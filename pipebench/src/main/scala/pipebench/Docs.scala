package pipebench

import scala.util.Random
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** The serving workload's documents: the sf0.1 fixture's `documents` and
  * `embeddings` tables, kept in `pipebench/data/sf0.1` so that a run reads
  * nothing outside its checkout. The fixture holds 5000 documents of 10-100
  * space-separated words over a 31-word vocabulary, and 2000 64-dim
  * embeddings (`vec_id` 0-1999, matching `doc_id`) in 10 labels.
  *
  * `--seed` draws the held-out batch from the documents that have an
  * embedding; the base corpus is every other document and embedding. */
object Docs {
  final case class Doc(id: Long, text: String, vec: Option[Array[Float]]) {
    lazy val words: Vector[String] = text.split(" ").toVector
  }

  /** Every fixture document with id below `limit`, with its embedding if
    * it has one. */
  def load(spark: SparkSession, data: String, limit: Long): Vector[Doc] = {
    import spark.implicits._
    val vecs = spark.read.parquet(s"$data/embeddings.parquet")
      .filter(col("vec_id") < limit).select("vec_id", "embedding")
      .as[(Long, Seq[Float])].collect().map(x => x._1 -> x._2.toArray).toMap
    spark.read.parquet(s"$data/documents.parquet")
      .filter(col("doc_id") < limit).select("doc_id", "text")
      .as[(Long, String)].collect().sortBy(_._1)
      .map { case (i, t) => Doc(i, t, vecs.get(i)) }.toVector
  }

  /** (base, held-out): `n` documents with an embedding drawn with the seed. */
  def split(seed: Long, docs: Vector[Doc], n: Int): (Vector[Doc], Vector[Doc]) = {
    val held = new Random(seed).shuffle(docs.filter(_.vec.isDefined).map(_.id)).take(n).toSet
    docs.partition(d => !held(d.id)) match { case (b, h) => (b, h.sortBy(_.id)) }
  }

  /** Writes the fixture's rows of `ids` as `documents.parquet` and
    * `embeddings.parquet` under `dir`, in the fixture's own columns. */
  def write(spark: SparkSession, data: String, dir: String, ids: Seq[Long]): Unit = {
    val keep = ids.map(Long.box)
    spark.read.parquet(s"$data/documents.parquet").filter(col("doc_id").isin(keep: _*))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    spark.read.parquet(s"$data/embeddings.parquet").filter(col("vec_id").isin(keep: _*))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }
}
