package bambench

import java.nio.file.Path

import org.apache.spark.sql.{Row, SparkSession}

import graft.SparkEntry

/** The registered queries the traced run profiles, over seeded tables,
  * with their result digests. */
object SqlQueries {

  /** Relational control (`q1_agg`), the versioned stores (`agg_store_at`,
    * `store_timetravel`), top-k similarity (`ann_pq_q`, `hybrid_rrf`) and
    * the top-k query that bypasses PQ and hybrid retrieval (`emb_hash_q`). */
  val Queries: Seq[String] = Seq("q1_agg", "agg_store_at", "store_timetravel",
    "ann_pq_q", "hybrid_rrf", "emb_hash_q")

  /** Table sizes: `documents`, `embeddings`, `orders` (4 `lineitem` rows per
    * order). */
  val Docs = 500
  val Vecs = 500
  val Orders = 15000

  def writeTables(spark: SparkSession, dir: Path): Unit =
    Gen.writeSqlTables(spark, dir, Docs, Vecs, Orders)

  /** Row count and an order-independent hash of the rows' text form. */
  def digest(rows: Array[Row]): String = {
    var h = 0L
    rows.foreach(r => h += scala.util.hashing.MurmurHash3.stringHash(r.toString))
    s"${rows.length}:$h"
  }

  /** Digests of the six queries over the tables [[writeTables]] makes,
    * kept beside the benchmark's sources. */
  lazy val expected: Map[String, String] = {
    val in = getClass.getResourceAsStream("/sql_digests.txt")
    if (in == null) Map.empty
    else try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(q, d) = l.split("\\s+"); q -> d }.toMap
    finally in.close()
  }

  /** Run query `q` to completion on the driver; its digest, and whether
    * that matches the stored one. */
  def run(spark: SparkSession, dir: Path, q: String): (String, Boolean) = {
    val d = digest(SparkEntry.queries(q)(spark, dir.toString).collect())
    (d, Checks.sql(q, d))
  }
}
