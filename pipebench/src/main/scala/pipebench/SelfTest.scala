package pipebench

/** Shows that every correctness check can fail: each workload runs once
  * at tiny scale, its checks must pass on the real outputs, and each must
  * reject a copy of the outputs with one deliberate fault. */
object SelfTest {
  def run(work: String, data: String): Boolean = {
    val pipeline = eventPipeline(args("event_pipeline", s"$work/event_pipeline", data))
    val serving = indexServing(args("index_serving", s"$work/index_serving", data))
    val all = pipeline ++ serving
    all.foreach { case (name, ok) => System.err.println(s"[selftest] ${if (ok) "ok  " else "FAIL"} $name") }
    all.forall(_._2)
  }

  private def args(workload: String, work: String, data: String) =
    Main.Args(workload, seed = 7, seconds = 2, trace = false, work = work, data = data, tiny = true)

  /** (what, passed) for the clean outputs and each corruption. */
  def eventPipeline(a: Main.Args): Seq[(String, Boolean)] = {
    val o = EventPipeline.run(a)
    val (valid, hour, out) = EventPipeline.checked.get
    def rejects(name: String, bad: EventPipeline.Outputs) =
      s"event_pipeline rejects $name" -> EventPipeline.checkOutputs(valid, hour, bad).nonEmpty
    val (id, y, m, d, h) = out.bronze.head
    val g = out.gold.head
    val p = out.processed.head
    Seq(
      "event_pipeline passes its own outputs" -> o.problems.isEmpty,
      rejects("one bronze row dropped", out.copy(bronze = out.bronze.tail)),
      rejects("one line lost from quarantine", out.copy(quarantined = out.quarantined - 1)),
      rejects("a bronze row in another hour's partition",
        out.copy(bronze = (id, y, m, d, (h + 1) % 24) +: out.bronze.tail)),
      rejects("one gold n_events off by one", out.copy(gold = g.copy(_3 = g._3 + 1) +: out.gold.tail)),
      rejects("one gold n_users off by one", out.copy(gold = g.copy(_4 = g._4 + 1) +: out.gold.tail)),
      rejects("one silver row too many", out.copy(silverRows = out.silverRows + 1)),
      rejects("one is_bot flipped", out.copy(processed = p.copy(_2 = !p._2) +: out.processed.tail)),
      rejects("one user_segment changed", out.copy(processed =
        p.copy(_3 = if (p._3 == "regular") "at_risk" else "regular") +: out.processed.tail)),
      rejects("one warehouse row missing", out.copy(warehouseRows = out.warehouseRows - 1)))
  }

  def indexServing(a: Main.Args): Seq[(String, Boolean)] = {
    import IndexServing._
    val o = IndexServing.run(a)
    val c = IndexServing.checked.get
    def rejects(name: String, bad: Checked) = s"index_serving rejects $name" -> check(bad).nonEmpty
    def first[T <: Req](f: PartialFunction[Req, T]) = c.pages.find(p => f.isDefinedAt(p.req)).get
    def swap(pg: Page, to: Page) = c.copy(pages = c.pages.map(p => if (p eq pg) to else p))
    val ann = c.pages.find(p => p.req match { case Ann(_, full) => full; case _ => false }).get
    def outsider(pg: Page, among: Seq[Docs.Doc] = c.corpus) =
      among.map(_.id).find(i => !pg.hits.exists(_._1 == i)).get
    val phrase = first { case x: Phrase => x }
    val bool = first { case x: Bool => x }
    val prox = c.pages.find(p => p.req.isInstanceOf[Prox] && p.hits.nonEmpty).get
    Seq(
      "index_serving passes its own outputs" -> o.problems.isEmpty,
      rejects("one ANN hit swapped for another doc",
        swap(ann, ann.copy(hits = ann.hits.init :+ (outsider(ann, c.corpus.filter(_.vec.isDefined)) -> ann.hits.last._2)))),
      rejects("one phrase hit dropped", swap(phrase, phrase.copy(hits = phrase.hits.tail))),
      rejects("a fetched page with altered text", swap(phrase, phrase.copy(
        fetched = phrase.fetched.map { case (i, t) => (i, t + " x") }))),
      rejects("one boolean hit added", swap(bool, bool.copy(hits = bool.hits :+ (outsider(bool) -> 1.0)))),
      rejects("one proximity distance off by one", swap(prox, prox.copy(
        hits = prox.hits.map { case (i, d) => (i, d + 1) }))),
      rejects("the held-out docs missing after the fold", c.copy(foldPage = c.foldPage.copy(
        hits = c.foldPage.hits.filterNot(h => c.batch.exists(_.id == h._1))))))
  }
}
