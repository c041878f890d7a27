package graft.streaming

import graft.SparkSpec

class TaskMetricsListenerSpec extends SparkSpec {

  test("task metrics listener records per-task durations and rows") {
    val listener = new TaskMetricsListener
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.range(0, 100000, 1, 4).selectExpr("sum(id)").collect()
      // listener delivery is async
      val deadline = System.currentTimeMillis() + 10000
      while (listener.samples.size < 4 &&
        System.currentTimeMillis() < deadline) Thread.sleep(50)
      val s = listener.samples
      assert(s.size >= 4)
      assert(s.forall(_.durationMs >= 0))
      assert(listener.toDF(spark).columns.contains("recordsRead"))
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
