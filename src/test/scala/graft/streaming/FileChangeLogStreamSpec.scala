package graft.streaming

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.SparkSpec

class FileChangeLogStreamSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String = Files.createTempDirectory("fcl").toString

  private val Types = Array("click", "purchase", "view", "error")

  private def writeSegment(dir: String, ids: Range, baseMs: Long): Unit =
    ChangeLogSegments.land(spark, dir, ids.map(i =>
      (i.toLong, (baseMs + i * 1000L) * 1000L, i.toLong % 5, Types(i % 4),
        i + 0.5, s"p$i")))

  /** Every id the planned partitions of `(lo, hi]` read, in plan order. */
  private def readPlanned(dir: String, lo: Long, hi: Long, numPartitions: Int,
                          tables: Option[Set[String]] = None): Seq[Long] =
    new FileChangeLogMicroBatchStream(dir, Long.MaxValue, tables, "earliest",
        numPartitions)
      .planInputPartitions(ChangeLogOffset(lo), ChangeLogOffset(hi))
      .toSeq.flatMap { p =>
        val r = new FileChangeLogPartitionReader(p.asInstanceOf[FileChangeLogPartition])
        try Iterator.continually(r.next()).takeWhile(identity)
          .map(_ => r.get().getLong(0)).toVector
        finally r.close()
      }

  test("streams the driver's nanos-timestamp parquet byte-for-byte") {
    val dir = tmp()
    Files.copy(Paths.get("/root/testdata/sf0.001/events.parquet"),
      Paths.get(dir, "seg-0.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val q = spark.readStream.format(FileChangeLogStream.FormatName)
      .option("path", dir).load()
      .writeStream.format("memory").queryName("fcl_ns")
      .option("checkpointLocation", tmp()).start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("fcl_ns")
      .agg(count(lit(1)), min(graft.util.Cols.epochUs($"ts")), max($"event_id"))
      .as[(Long, Long, Long)].head()
    val exp = graft.sources.ChangeLogSource
      .changeLog(spark, "/root/testdata/sf0.001")
      .agg(count(lit(1)), min(graft.util.Cols.epochUs($"ts")), max($"event_id"))
      .as[(Long, Long, Long)].head()
    assert(got == exp) // same rows, same micros truncation as batch path
  }

  test("numPartitions splits a large segment into covering sub-ranges") {
    val dir = tmp()
    writeSegment(dir, 0 until 500, 1700000000000L)
    // plan level: one 500-id segment at numPartitions = 8 yields 8 tasks
    val stream = new FileChangeLogMicroBatchStream(dir, Long.MaxValue,
      None, "earliest", numPartitions = 8)
    val parts = stream
      .planInputPartitions(ChangeLogOffset(-1L), ChangeLogOffset(499L))
      .map(_.asInstanceOf[FileChangeLogPartition])
    assert(parts.length == 8)
    // half-open ranges tile (-1, 499] with no gap or overlap
    val sorted = parts.sortBy(_.min)
    assert(sorted.head.min == -1L && sorted.last.max == 499L)
    assert(sorted.sliding(2).forall {
      case Array(a, b) => a.max == b.min; case _ => true })
    // the default (1) plans one task per intersected segment, each
    // clipped to its own span: (start, end] = (250, 620] over segments
    // [0, 500), [500, 600), [600, 700)
    writeSegment(dir, 500 until 600, 1700000000000L)
    writeSegment(dir, 600 until 700, 1700000000000L)
    val one = new FileChangeLogMicroBatchStream(dir, Long.MaxValue, None,
        "earliest")
      .planInputPartitions(ChangeLogOffset(250L), ChangeLogOffset(620L))
      .map(_.asInstanceOf[FileChangeLogPartition]).map(p => (p.min, p.max))
    assert(one.sorted.toSeq == Seq((250L, 499L), (499L, 599L), (599L, 620L)))
    // data level: the split read returns exactly the same rows
    val q = ExtractionPipeline.readChangeLog(spark, dir, numPartitions = 8)
      .writeStream.format("memory").queryName("fcl_split")
      .option("checkpointLocation", tmp()).start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("fcl_split")
      .agg(count(lit(1)), countDistinct($"event_id"), max($"event_id"))
      .as[(Long, Long, Long)].head()
    assert(got == ((700L, 700L, 699L)))
  }

  test("sparse ids: every (min, max] bound reads exactly, across sub-range seams") {
    val dir = tmp()
    val ids = (1L to 40L).map(_ * 10L) // 10, 20, ..., 400
    def kind(i: Long) = if (i % 20 == 0) "click" else "view"
    ChangeLogSegments.land(spark, dir,
      ids.map(i => (i, 1700000000000000L + i, 1L, kind(i), 1.5, s"p$i")))
    val bounds = Seq(-5L, 0L, 9L, 10L, 11L, 155L, 200L, 399L, 400L, 401L, 900L)
    for (lo <- bounds; hi <- bounds if lo <= hi;
         tables <- Seq(None, Some(Set("view"))); n <- Seq(1, 3)) {
      val exp = ids.filter(i =>
        i > lo && i <= hi && tables.forall(_.contains(kind(i))))
      assert(readPlanned(dir, lo, hi, n, tables) == exp,
        s"($lo, $hi] tables=$tables numPartitions=$n")
    }
  }

  test("incremental segments + restart: exactly once, footer-stat offsets") {
    // at one task per segment (the default) and at three sub-ranges
    for (n <- Seq(1, 3)) {
      val dir = tmp()
      val ckpt = tmp()
      val out = tmp()
      writeSegment(dir, 0 until 40, 1700000000000L)
      def run(): Unit = {
        val q = ExtractionPipeline.readChangeLog(spark, dir, numPartitions = n)
          .writeStream.format("parquet").option("path", out)
          .option("checkpointLocation", ckpt).start()
        try q.processAllAvailable() finally q.stop()
      }
      run()
      writeSegment(dir, 40 until 40, 1700000000000L) // an empty landed batch
      writeSegment(dir, 40 until 90, 1700000000000L)
      run() // the second incarnation must pick up only 40..89
      val ids = spark.read.parquet(out).select("event_id").as[Long].collect()
      assert(ids.sorted.toSeq == (0L until 90L), s"numPartitions=$n")
      assert(ids.length == ids.distinct.length, s"numPartitions=$n")
    }
  }

  test("a null props value streams as null (the column is nullable)") {
    val dir = tmp()
    FileChangeLogStream.writeSegment(
      (0 until 6).map(i => (i.toLong, new Timestamp(1700000000000L + i * 1000L),
          i.toLong, "click", i + 0.5, if (i % 2 == 0) None else Some(s"p$i")))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props"),
      dir)
    val q = spark.readStream.format(FileChangeLogStream.FormatName)
      .option("path", dir).load()
      .writeStream.format("memory").queryName("fcl_null_props")
      .option("checkpointLocation", tmp()).start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("fcl_null_props").select("event_id", "props")
      .as[(Long, Option[String])].collect().sortBy(_._1).toSeq
    assert(got == (0 until 6).map(i =>
      (i.toLong, if (i % 2 == 0) None else Some(s"p$i"))))
  }

  test("admission control + table filter on the file source") {
    val dir = tmp()
    writeSegment(dir, 0 until 60, 1700000000000L)
    // a cap of 20 ids per trigger over 60 ids, without and with a
    // two-table IN-list (types cycle click, purchase, view, error)
    for ((tables, want) <- Seq(None -> (0L until 60L),
                               Some(Seq("click", "view")) -> (0L until 60L by 2))) {
      val name = s"fcl_cap_${tables.size}"
      val q = ExtractionPipeline.readChangeLog(spark, dir, tables,
          maxEventsPerTrigger = 20L)
        .writeStream.format("memory").queryName(name)
        .option("checkpointLocation", tmp()).start()
      try {
        q.processAllAvailable()
        val got = spark.table(name).select("event_id").as[Long].collect()
        assert(got.sorted.toSeq == want, s"tables=$tables")
        assert(q.recentProgress.count(_.numInputRows > 0) >= 3)
        assert(q.recentProgress.forall(_.numInputRows <= 20))
      } finally q.stop()
    }
  }

  test("startAt other than earliest or latest is rejected by name") {
    for (bad <- Seq("Latest", "lastest", "")) {
      val e = intercept[IllegalArgumentException](
        new FileChangeLogScanBuilder(new CaseInsensitiveStringMap(
          java.util.Map.of("path", tmp(), "startAt", bad))).build())
      assert(e.getMessage.contains("startAt"), e.getMessage)
    }
    for (ok <- Seq("earliest", "latest"))
      new FileChangeLogScanBuilder(new CaseInsensitiveStringMap(
        java.util.Map.of("path", tmp(), "startAt", ok))).build()
  }

  test("writeSegment leaves the session's parquet timestamp type as it was") {
    val key = "spark.sql.parquet.outputTimestampType"
    val conf = spark.conf
    val entry = conf.getAll.get(key)
    try {
      for (before <- Seq(None, Some("TIMESTAMP_MILLIS"))) {
        before.fold(conf.unset(key))(conf.set(key, _))
        val dir = tmp()
        writeSegment(dir, 0 until 3, 1700000000000L)
        assert(conf.getAll.get(key) == before)
        // the segment itself is still written with micros `ts`
        val file = Files.list(Paths.get(dir)).iterator().asScala
          .find(_.toString.endsWith(".parquet")).get
        assert(FileChangeLogStream.tsToMicrosFactor(
          new org.apache.hadoop.conf.Configuration(),
          new org.apache.hadoop.fs.Path(file.toString)) == 1L)
        val q = ExtractionPipeline.readChangeLog(spark, dir)
          .writeStream.format("memory").queryName("fcl_ts_unit")
          .option("checkpointLocation", tmp()).start()
        try q.processAllAvailable() finally q.stop()
        val ts = spark.table("fcl_ts_unit").select("event_id", "ts")
          .as[(Long, Timestamp)].collect().sortBy(_._1).map(_._2.getTime).toSeq
        assert(ts == (0 until 3).map(i => 1700000000000L + i * 1000L))
      }
    } finally entry.fold(conf.unset(key))(conf.set(key, _))
  }
}
