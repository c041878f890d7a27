package graft.operators

import graft.SparkSpec
import graft.operators.CdcOps

class ProfilerSpec extends SparkSpec {
  import spark.implicits._

  test("profile: one row per column with nulls/distinct/min/max") {
    val df = Seq((1L, Some("a"), 1.5), (2L, None, 2.5), (3L, Some("a"), 2.5))
      .toDF("id", "s", "v")
    val got = Profiler.profile(df, Seq("id", "s", "v"))
      .as[(String, Long, Long, String, String, Long)]
      .collect().map(r => r._1 -> r).toMap
    assert(got("id") == (("id", 0L, 3L, "1", "3", 3L)))
    assert(got("s") == (("s", 1L, 1L, "a", "a", 2L)))
    assert(got("v") == (("v", 0L, 2L, "1.5", "2.5", 3L)))
  }

  test("txidsByCommitTs groups txid sets per commit timestamp") {
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val log = Seq((ts, 1L), (ts, 2L), (ts, 1L)).toDF("ts", "user_id")
    val got = CdcOps.txidsByCommitTs(log)
      .as[(java.sql.Timestamp, Seq[Long])].collect()
    assert(got.length == 1)
    assert(got.head._2 == Seq(1L, 2L)) // sorted distinct set
  }

  test("GraftSession builder carries the recommended configs") {
    // static confs (codegen cache, local dir, transferTo) do not show on
    // the already-running shared context, so check the factory's conf
    val conf = graft.GraftSession.settings(4)
    assert(conf("spark.sql.codegen.cache.maxEntries") == "4096")
    assert(conf("spark.file.transferTo") == "false")
    assert(conf.get("spark.local.dir").exists(_.nonEmpty))
    assert(conf("spark.sql.shuffle.partitions") == "4")
    val b = graft.GraftSession.builder(4)
    // the builder should produce a session config with our knobs; the
    // shared test session already exists, so inspect via a new session
    // handle's conf after getOrCreate (same context)
    val s = b.getOrCreate()
    assert(s.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(s.conf.get("spark.sql.adaptive.enabled") == "true")
  }
}
