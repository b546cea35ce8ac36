package pipebench

import scala.util.Random
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.text.{DocStore, TextIndex}
import graft.vector.CellIndex
import Main.median

/** Read-heavy requests over at-rest artifacts, and
  * the live fold that makes new documents servable.
  *
  * Set-up builds, from the sf0.1 fixture's documents and embeddings minus
  * a held-out batch, the posting index,
  * the positional phrase index, the doc store and the cell-partitioned
  * vector index. One round of the request mix is four pages: an exact
  * phrase search whose first hits are fetched from the doc store, a
  * boolean AND/NOT search, a proximity search and an ANN search over
  * `Probe` of `Cells` cells. One closed-loop client sends the mix. Then a
  * held-out batch arrives:
  * `IndexMaintenanceJob.applyBatch` folds it into all four artifacts, and
  * a first page must serve it. Every page is checked against a plain scan
  * of the fixture's documents. */
object IndexServing {
  /** Fixture documents a tiny (self-test) run serves: ids below this. */
  val TinyDocs = 600L
  val HeldOut = 40
  val Buckets = 4
  val Cells = 8
  val Probe = 2
  val PageSize = 10
  /** Share of the run's seconds spent sending requests. */
  val SerialShare = 0.8
  /** Untimed rounds of the mix in set-up, so that the JIT has compiled the
    * serving paths before the timed pages. */
  val WarmRounds = 4

  sealed trait Req
  final case class Phrase(words: Seq[String]) extends Req
  final case class Bool(must: Seq[String], not: String) extends Req
  final case class Prox(a: String, b: String) extends Req
  final case class Ann(probe: Seq[Double], full: Boolean) extends Req

  /** A served page: hit ids (with a per-hit value: min distance for
    * proximity, cosine for ANN) and the fetched (id, text) rows. */
  final case class Page(req: Req, hits: Seq[(Long, Double)], fetched: Seq[(Long, String)])

  final case class Paths(text: String, phrase: String, store: String, vec: String)

  /** Everything a run's checks read. */
  final case class Checked(pages: Seq[Page], corpus: Seq[Docs.Doc], foldPage: Page,
    batch: Seq[Docs.Doc])

  /** The last run's checked outputs, kept for the self-test. */
  @volatile var checked: Option[Checked] = None

  def check(c: Checked): Seq[String] =
    c.pages.flatMap(checkPage(_, c.corpus)) ++ checkPage(c.foldPage, c.corpus ++ c.batch) ++
      (if (!c.foldPage.hits.exists(h => c.batch.exists(_.id == h._1)))
        Seq("held-out docs are not served after the fold") else Nil)

  def run(a: Main.Args): Main.Outcome = {
    val w = a.work
    val spark = Main.session()
    Main.log("session ready")
    val (corpus, batch) = Docs.split(a.seed,
      Docs.load(spark, a.data, if (a.tiny) TinyDocs else Long.MaxValue), HeldOut)
    Docs.write(spark, a.data, s"$w/base", corpus.map(_.id))
    Docs.write(spark, a.data, s"$w/batch", batch.map(_.id))
    Main.log(s"documents written: ${corpus.size} base, ${batch.size} held out")
    val p = Paths(s"$w/text_index", s"$w/phrase_index", s"$w/doc_store", s"$w/vector_index")
    Trace.span("text.index_build_s")(TextIndex.write(spark, s"$w/base", p.text, Buckets))
    Trace.span("text.phrase_index_build_s")(
      TextIndex.writePhraseIndex(spark, s"$w/base", p.phrase, Buckets))
    Trace.span("text.doc_store_build_s")(DocStore.write(spark, s"$w/base", p.store, Buckets))
    Trace.span("vector.cell_index_build_s")(
      CellIndex.write(spark, s"$w/base", p.vec, k = Cells, iters = 2, pqM = 2, pqK = 8))
    val bytesPerDoc = Seq(p.text, p.phrase, p.store, p.vec)
      .map(d => Main.dirBytes(d)).sum.toDouble / corpus.size
    Main.evictAll(spark)
    Main.log("artifacts built")
    val rnd = new Random(a.seed)
    val requests = Vector.fill(64)(round(rnd, corpus)).flatten
    requests.take(4 * WarmRounds).foreach(serve(spark, p, _))
    Main.quiesce()
    val setupS = Main.setupSeconds()
    Main.log("set-up done")

    // one closed-loop client, whole rounds until its share of the run is
    // spent; its requests follow the warm-up's, so none repeats one the
    // session has served (and perhaps memoized)
    def roundAt(r: Int) = { val off = (WarmRounds + r) * 4 % requests.size; requests.slice(off, off + 4) }
    val serialEnd = System.nanoTime() + (a.seconds * SerialShare * 1e9).toLong
    val serial = Vector.newBuilder[(Page, Double)]
    var r = 0
    do {
      roundAt(r).foreach { q =>
        serial += Steal.timed(Trace.scope("page")(serve(spark, p, q, spans = true)))
      }
      r += 1
    } while (!a.tiny && System.nanoTime() < serialEnd)
    val serialPages = serial.result()
    Main.quiesce()
    Main.log(s"one client: ${serialPages.size} pages")

    // ANN at full probe over the base corpus, checked against brute force
    val fullPages = requests.collect { case x: Ann => x.copy(full = true) }.take(6)
      .map(serve(spark, p, _))

    // the held-out batch folded into all four artifacts, then a first page
    // for a phrase of one of its docs
    val probe = Phrase(batch.head.words.sliding(2).find(x => x(0) != x(1)).get)
    val (page, foldS) = Steal.timed(Trace.scope("fold") {
      Trace.span("app.apply_batch_s")(graft.app.IndexMaintenanceJob.applyBatch(spark,
        batchFrame(spark, s"$w/batch"), 0L, s"$w/batches", p.vec, p.text,
        phraseIdx = Some(p.phrase), docStore = Some(p.store)))
      Trace.span("text.first_page_after_fold_s")(Trace.scope("first_page")(serve(spark, p, probe)))
    })
    Main.log(f"fold $foldS%.2f s")

    // correctness, outside every timed region
    val c = Checked(serialPages.map(_._1) ++ fullPages, corpus, page, batch)
    checked = Some(c)
    val problems = check(c)
    Main.log("checked")

    // page latency of the mix: the median of each request kind, averaged
    // over the kinds (a median over all pages would sit on the boundary
    // between two kinds and jump with single samples)
    val latMs = serialPages.groupBy(_._1.req.getClass).values
      .map(xs => median(xs.map(_._2 * 1000))).toSeq
    val serialS = serialPages.map(_._2).sum
    val perLayer = if (!a.trace) Nil else layers(spark, p, serialPages.size, serialS)
    Main.Outcome(
      endToEnd = Seq(
        ("setup_s", setupS, "s"),
        ("rate_per_s", serialPages.size / serialS, "1/s"),
        ("op_p50_ms", latMs.sum / latMs.size, "ms"),
        ("job_s", foldS, "s"),
        ("bytes_per_item", bytesPerDoc, "bytes")),
      perLayer = perLayer,
      attempted = serialPages.size + fullPages.size + 1, problems = problems)
  }

  /** One round of the mix, drawn from the documents being served. */
  def round(rnd: Random, docs: Seq[Docs.Doc]): Seq[Req] = {
    def pick[T](f: Docs.Doc => Option[T]): T =
      Iterator.continually(docs(rnd.nextInt(docs.size))).flatMap(f).next()
    def pairs(d: Docs.Doc, gap: Int) = for {
      i <- d.words.indices; j <- i + 1 to math.min(i + gap, d.words.size - 1)
      if d.words(i) != d.words(j)
    } yield (d.words(i), d.words(j))
    def one[T](xs: Seq[T]) = if (xs.isEmpty) None else Some(xs(rnd.nextInt(xs.size)))
    val phrase = pick(d => one(pairs(d, 1)))
    val must = pick(d => one(pairs(d, d.words.size)))
    val not = pick(d => one(d.words.filter(w => w != must._1 && w != must._2)))
    val prox = pick(d => one(pairs(d, 3)))
    val vec = pick(_.vec)
    Seq(Phrase(Seq(phrase._1, phrase._2)), Bool(Seq(must._1, must._2), not), Prox(prox._1, prox._2),
      Ann(vec.map(_.toDouble + 0.05 * rnd.nextGaussian()).toSeq, full = false))
  }

  def serve(spark: SparkSession, p: Paths, r: Req, spans: Boolean = false): Page = {
    import spark.implicits._
    def span[T](name: String)(f: => T): T = if (spans) Trace.span(name)(f) else f
    def ids(df: DataFrame, value: String): Seq[(Long, Double)] =
      df.select(col("doc_id"), col(value).cast("double")).as[(Long, Double)].collect().toSeq
    r match {
      case Phrase(ws) =>
        val hits = span("text.phrase_s")(ids(TextIndex.phraseSearch(spark, p.phrase, ws), "first_pos"))
        val page = hits.map(_._1).sorted.take(PageSize)
        val fetched = if (page.isEmpty) Nil else span("text.fetch_s")(
          DocStore.fetchPage(spark, p.store, page).select("doc_id", "text").as[(Long, String)]
            .collect().toSeq)
        Page(r, hits, fetched)
      case Bool(must, not) =>
        Page(r, span("text.bool_s")(ids(TextIndex.boolSearch(spark, p.text, must, Seq(not)), "dl")), Nil)
      case Prox(x, y) =>
        Page(r, span("text.proximity_s")(
          ids(TextIndex.proximitySearch(spark, p.phrase, x, y, slop = 3), "min_dist")), Nil)
      case Ann(v, full) =>
        val hits = span("vector.ann_s")(CellIndex.annIvfIndexed(spark, p.vec, v, k = PageSize,
          nprobe = if (full) Cells else Probe)
          .select(col("vec_id"), col("cos_sim")).as[(Long, Double)].collect().toSeq)
        Page(r, hits, Nil)
    }
  }

  /** The held-out docs as the maintenance job receives them: text and
    * embedding together, `vec_id = doc_id`. */
  def batchFrame(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")
      .join(spark.read.parquet(s"$dir/embeddings.parquet").withColumnRenamed("vec_id", "doc_id"),
        "doc_id")

  /** Checks one page against a plain scan of the documents being served. */
  def checkPage(pg: Page, docs: Seq[Docs.Doc]): Seq[String] = {
    def positions(d: Docs.Doc, w: String) = d.words.indices.filter(d.words(_) == w)
    val got = pg.hits.map(_._1).toSet
    pg.req match {
      case Phrase(ws) =>
        val want = docs.filter(d => d.words.sliding(ws.size).contains(ws.toVector)).map(_.id).toSet
        val text = docs.map(d => d.id -> d.text).toMap
        val page = got.toSeq.sorted.take(PageSize)
        (if (got != want) Seq(s"phrase ${ws.mkString(" ")}: ${got.size} hits, scan finds ${want.size}") else Nil) ++
          (if (pg.fetched.map(_._1).sorted != page || pg.fetched.exists { case (i, t) => !text.get(i).contains(t) })
            Seq(s"fetchPage of ${page.size} ids returned ${pg.fetched.size} rows or wrong text") else Nil)
      case Bool(must, not) =>
        val want = docs.filter(d => must.forall(d.words.contains) && !d.words.contains(not)).map(_.id).toSet
        if (got != want) Seq(s"bool ${must.mkString("+")}-$not: ${got.size} hits, scan finds ${want.size}") else Nil
      case Prox(x, y) =>
        val want = docs.flatMap { d =>
          val ds = for (i <- positions(d, x); j <- positions(d, y); g = math.abs(i - j) if g <= 3) yield g
          if (ds.isEmpty) None else Some(d.id -> ds.min.toDouble)
        }.toMap
        if (pg.hits.toMap != want) Seq(s"proximity $x~$y: ${got.size} hits, scan finds ${want.size}") else Nil
      case Ann(v, full) =>
        val cos = docs.flatMap(d => d.vec.map { e =>
          val dot = e.indices.map(i => e(i) * v(i)).sum
          val n = math.sqrt(e.map(x => x.toDouble * x).sum) * math.sqrt(v.map(x => x * x).sum)
          d.id -> dot / n
        }).toMap
        val wrongScore = pg.hits.exists { case (i, c) => cos.get(i).forall(e => math.abs(e - c) > 1e-4) }
        val sorted = pg.hits.map(_._2) == pg.hits.map(_._2).sortBy(-_)
        // at full probe the page must be the exact top-k: nothing left out
        // scores clearly above the page's lowest score
        val missed = full && (pg.hits.size != PageSize ||
          cos.exists { case (i, c) => !got.contains(i) && c > pg.hits.map(_._2).min + 1e-4 })
        val top = cos.toSeq.sortBy(x => (-x._2, x._1)).take(PageSize)
        if (wrongScore || !sorted || missed)
          Seq(s"ann (full=$full): page ${pg.hits.mkString(",")} is not the cosine top-$PageSize ${top.mkString(",")}")
        else Nil
    }
  }

  /** Serving's per-layer figures: build spans, span medians per call,
    * engine counts and task share per page, and the fold's split. */
  def layers(spark: SparkSession, p: Paths, serialPages: Int,
      serialS: Double): Seq[(String, Double, String)] = {
    // version resolution, timed apart on the current roots
    (1 to 20).foreach { _ =>
      Trace.span("versions.resolve_s") {
        TextIndex.currentRoot(spark, p.text); TextIndex.phraseCurrentRoot(spark, p.phrase)
        CellIndex.currentVectorsPath(spark, p.vec)
      }
    }
    EngineListener.drain(spark)
    def med(n: String) = { val xs = Trace.samples(n); if (xs.isEmpty) 0.0 else median(xs) }
    val page = Trace.engine("page")
    val n = math.max(1, serialPages)
    Seq(
      ("text.index_build_s", med("text.index_build_s"), "s"),
      ("text.phrase_index_build_s", med("text.phrase_index_build_s"), "s"),
      ("text.doc_store_build_s", med("text.doc_store_build_s"), "s"),
      ("vector.cell_index_build_s", med("vector.cell_index_build_s"), "s"),
      ("text.phrase_ms", med("text.phrase_s") * 1000, "ms"),
      ("text.bool_ms", med("text.bool_s") * 1000, "ms"),
      ("text.proximity_ms", med("text.proximity_s") * 1000, "ms"),
      ("text.fetch_ms", med("text.fetch_s") * 1000, "ms"),
      ("vector.ann_ms", med("vector.ann_s") * 1000, "ms"),
      ("versions.resolve_ms", med("versions.resolve_s") * 1000, "ms"),
      ("engine.jobs_per_page", page.jobs.toDouble / n, "count"),
      ("engine.stages_per_page", page.stages.toDouble / n, "count"),
      ("engine.input_bytes_per_page", page.inputBytes.toDouble / n, "bytes"),
      ("engine.task_share", page.taskS / (serialS * Main.Cores), "ratio"),
      ("engine.fold_jobs", Trace.engine("fold").jobs.toDouble, "count"),
      ("app.apply_batch_s", med("app.apply_batch_s"), "s"),
      ("text.first_page_after_fold_ms", med("text.first_page_after_fold_s") * 1000, "ms"),
      ("engine.first_page_jobs", Trace.engine("first_page").jobs.toDouble, "count"))
  }
}
