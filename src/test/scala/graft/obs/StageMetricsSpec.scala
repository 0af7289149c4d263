package graft.obs

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class StageMetricsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("each job group counts only its own jobs and tasks") {
    val sc = spark.sparkContext
    val metrics = StageMetrics.install(sc)
    try {
      metrics.inGroup("three")(sc.parallelize(1 to 100, 3).count())
      metrics.inGroup("five")(sc.parallelize(1 to 100, 5).count())
      metrics.inGroup("five")(sc.parallelize(1 to 100, 5).count())
      sc.parallelize(1 to 100, 7).count() // no group: counted nowhere
      val (three, five, absent) = (metrics("three"), metrics("five"), metrics("absent"))
      assert((three.jobs, three.tasks) == ((1L, 3L)))
      assert((five.jobs, five.tasks) == ((2L, 10L)))
      assert((absent.jobs, absent.tasks) == ((0L, 0L)))
    } finally metrics.remove()
  }

  test("a shuffle job's group reports shuffle bytes; a narrow job's reports none") {
    import spark.implicits._
    val metrics = StageMetrics.install(spark.sparkContext)
    try {
      val df = (1 to 10000).map(i => (i % 17, i.toLong)).toDF("k", "v")
      metrics.inGroup("agg")(df.groupBy("k").sum("v").collect())
      metrics.inGroup("narrow")(spark.sparkContext.parallelize(1 to 100, 2).map(_ * 2).count())
      val (agg, narrow) = (metrics("agg"), metrics("narrow"))
      assert(agg.shuffleWriteBytes > 0 && agg.shuffleReadBytes > 0, agg)
      assert(narrow.shuffleWriteBytes == 0 && narrow.shuffleReadBytes == 0, narrow)
      assert(agg.cpuNs > 0 && agg.skew >= 1.0, agg)
    } finally metrics.remove()
  }
}
