package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The sf1.0 scale-proof lane (VERDICT r11 #4): materialize a 10×
  * replica of the sf0.1 fixture, run the heavy operator families at
  * both scales, and print per-query sf0.1→sf1.0 wall ratios — the
  * empirical backing for every "100 TB shape" claim in COVERAGE.md.
  * A linear operator lands ≤ ~10× (usually well under, fixed overheads
  * amortize); anything super-linear is a plan bug to fix, not a note.
  *
  * The replica is DERIVED, deterministic and content-aware — 10 copies
  * with disjoint key spaces, where:
  *   - documents: copy 0 is the original; copies 1-4 keep the TEXT
  *     byte-identical (exact duplicates — the exact-dup collapse path
  *     must absorb them); copies 5-9 prepend a copy marker (near
  *     duplicates — the banded MinHash path must pair them without
  *     candidate blowup). This makes sf1.0 a HARDER dedup instance
  *     than a plain 10× corpus: every original doc heads a 10-member
  *     duplicate cluster, exactly the viral-duplication shape.
  *   - embeddings: vectors get a per-copy deterministic jitter on one
  *     coordinate (distinct but near — ANN buckets thicken ~10×).
  *   - events/orders/customer: keys offset per copy; event times shift
  *     by the copy index so sessionization doesn't see 10 identical
  *     timelines stacked on the same millisecond.
  * Dimension tables (region/nation/supplier/part/lineitem) copy
  * through unchanged — the lane's families don't fan out on them.
  *
  * Usage: ScaleLane <srcSfDir> <outDir> — builds the replica under
  * outDir if absent (marker-guarded), no timing here; time with
  * `MAIN_CLASS=graft.Bench SPARK_GRAFT_SF_DIR=<outDir>` so both scales
  * run the EXACT driver-bench path (tools/scale_lane.sh wraps both).
  */
object ScaleLane {

  private val Copies = 10

  def main(args: Array[String]): Unit = {
    if (args.length != 2) {
      System.err.println("usage: ScaleLane <srcSfDir> <outDir>")
      sys.exit(2)
    }
    val Array(src, out) = args
    val marker = java.nio.file.Paths.get(out, "_SCALED")
    if (java.nio.file.Files.exists(marker)) {
      println(s"scale replica already at $out"); return
    }
    val spark = GraftSession.local()
    build(spark, src, out)
    java.nio.file.Files.createFile(marker)
    println(s"scale replica built at $out")
    spark.stop()
  }

  def build(spark: SparkSession, src: String, out: String): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))
    def copies(df: DataFrame): DataFrame =
      spark.range(0, Copies).toDF("__copy").crossJoin(df)
    def write(name: String, df: DataFrame): Unit =
      df.repartition(32).write.mode("overwrite")
        .option("compression", "snappy").parquet(s"$out/$name.parquet")

    val docs = spark.read.parquet(s"$src/documents.parquet")
    val maxDoc = docs.agg(max("doc_id")).head.getLong(0) + 1
    write("documents", copies(docs).selectExpr(
      s"doc_id + __copy * ${maxDoc}L AS doc_id",
      // copies 1-4: byte-identical text (exact dups); 5-9: marked
      // near-dups; copy 0 is the original corpus
      "CASE WHEN __copy >= 5 THEN concat('c', __copy, 'v ', text) " +
        "ELSE text END AS text",
      "lang", "source",
      "CASE WHEN __copy >= 5 THEN n_chars + 4 ELSE n_chars END AS n_chars"))

    val emb = spark.read.parquet(s"$src/embeddings.parquet")
    val maxVec = emb.agg(max("vec_id")).head.getLong(0) + 1
    write("embeddings", copies(emb).selectExpr(
      s"vec_id + __copy * ${maxVec}L AS vec_id",
      // jitter ONE coordinate deterministically per copy: distinct
      // vectors, near in cosine — buckets/cells thicken ~10x
      "transform(embedding, (x, i) -> CAST(CASE WHEN i = 0 " +
        "THEN x + __copy * 0.001 ELSE x END AS FLOAT)) AS embedding",
      "label"))

    val ev = spark.read.parquet(s"$src/events.parquet")
    val maxEvent = ev.agg(max("event_id")).head.getLong(0) + 1
    val maxUser = ev.agg(max("user_id")).head.getLong(0) + 1
    // the ts shift must handle BOTH fixture vintages the session
    // accepts (nanosAsLong=true): TIMESTAMP adds an interval,
    // nano-long BIGINT adds raw nanoseconds
    val tsShift =
      if (ev.schema("ts").dataType == org.apache.spark.sql.types.LongType)
        "ts + __copy * 1000000000 AS ts"
      else "ts + make_interval(0, 0, 0, 0, 0, 0, __copy) AS ts"
    write("events", copies(ev).selectExpr(
      s"event_id + __copy * ${maxEvent}L AS event_id",
      tsShift,
      s"user_id + __copy * ${maxUser}L AS user_id",
      "event_type", "value", "props"))

    val ord = spark.read.parquet(s"$src/orders.parquet")
    val maxOrd = ord.agg(max("o_orderkey")).head.getLong(0) + 1
    val cust = spark.read.parquet(s"$src/customer.parquet")
    val maxCust = cust.agg(max("c_custkey")).head.getLong(0) + 1
    write("orders", copies(ord).selectExpr(
      s"o_orderkey + __copy * ${maxOrd}L AS o_orderkey",
      s"o_custkey + __copy * ${maxCust}L AS o_custkey",
      "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority"))
    write("customer", copies(cust).selectExpr(
      s"c_custkey + __copy * ${maxCust}L AS c_custkey",
      "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"))

    // pass-through relations the lane's families treat as dims
    Seq("region", "nation", "supplier", "part", "lineitem").foreach { t =>
      spark.read.parquet(s"$src/$t.parquet").write.mode("overwrite")
        .option("compression", "snappy").parquet(s"$out/$t.parquet")
    }
  }
}
