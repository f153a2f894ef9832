package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.ListenerBusShim
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions.col

/** Pins the [[Tables]] schema contract: a table's schema is inferred
  * once, later loads run no Spark job and plan exactly like a plain
  * `spark.read.parquet`, and neither a parquet conf change nor a
  * rewrite at the same path is ever served a stale schema.
  */
class TablesSpec extends SparkSpec {

  private val nanosKey = "spark.sql.legacy.parquet.nanosAsLong"
  private val ntzKey = "spark.sql.parquet.inferTimestampNTZ.enabled"

  /** Spark jobs started while `body` runs, counted after the listener
    * bus has delivered every event of it.
    */
  private def jobsDuring(body: => Any): Int = {
    val sc = spark.sparkContext
    ListenerBusShim.drain(sc)
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      body
      ListenerBusShim.drain(sc)
      jobs.get()
    } finally sc.removeSparkListener(listener)
  }

  /** Optimized and physical plan of a pruned, filtered read, with
    * expression ids and plan ids blanked (they differ per read).
    */
  private def shape(df: DataFrame): (String, String, BigInt) = {
    val first = df.columns.head
    val qe = df.filter(col(first).isNotNull).select(first).queryExecution
    def norm(s: String) = s.replaceAll("#\\d+L?", "#").replaceAll("plan_id=\\d+", "plan_id=")
    (norm(qe.optimizedPlan.toString), norm(qe.sparkPlan.toString), qe.optimizedPlan.stats.sizeInBytes)
  }

  test("a second load of every table runs no Spark job") {
    Tables.all.foreach { t =>
      assert(jobsDuring(spark.read.parquet(s"$sf0001/$t.parquet")) >= 1,
        s"$t: a plain read infers its schema with a job (the counter must see it)")
      Tables.load(spark, sf0001, t)
      assert(jobsDuring(Tables.load(spark, sf0001, t)) === 0,
        s"$t: a cached-schema load must not run a job")
    }
  }

  test("cached loads equal plain reads in schema and plan under each parquet conf") {
    // nanosAsLong on and off, crossed with the timestamp-NTZ inference
    // flag, which turns the testdata's untagged `ts` columns from
    // timestamp into timestamp_ntz: a schema cached under one setting
    // must never be served under the other
    val before = Seq(nanosKey, ntzKey).map(k => k -> spark.conf.get(k))
    val eventsTs = scala.collection.mutable.Set[String]()
    try for (nanos <- Seq("true", "false"); ntz <- Seq("false", "true")) {
      spark.conf.set(nanosKey, nanos)
      spark.conf.set(ntzKey, ntz)
      val at = s"nanosAsLong=$nanos inferTimestampNTZ=$ntz"
      Tables.all.foreach { t =>
        val plain = spark.read.parquet(s"$sf0001/$t.parquet")
        Tables.load(spark, sf0001, t)
        val cached = Tables.load(spark, sf0001, t)
        assert(cached.schema === plain.schema, s"$t $at: schema")
        assert(shape(cached) === shape(plain), s"$t $at: plan")
        if (t == "events") eventsTs += cached.schema("ts").dataType.simpleString
      }
    } finally before.foreach { case (k, v) => spark.conf.set(k, v) }
    assert(eventsTs === Set("timestamp", "timestamp_ntz"),
      "the NTZ flag must change the inferred type, or this test checks nothing")
  }

  test("a table directory rewritten at the same path is re-inferred") {
    val dir = java.nio.file.Files.createTempDirectory("graft_tables").toString
    val path = s"$dir/t.parquet"
    // ScaleData-style: a multi-file directory overwritten in place
    spark.range(20).toDF("a").repartition(2).write.mode("overwrite").parquet(path)
    assert(Tables.load(spark, dir, "t").schema.fieldNames.toSeq === Seq("a"))
    assert(jobsDuring(Tables.load(spark, dir, "t")) === 0)
    spark.range(20).selectExpr("cast(id as string) as a", "id as b")
      .repartition(2).write.mode("overwrite").parquet(path)
    val reread = Tables.load(spark, dir, "t")
    assert(reread.schema === spark.read.parquet(path).schema)
    assert(reread.schema.fieldNames.toSeq === Seq("a", "b"))
    assert(reread.count() === 20)
  }

  test("a missing path still raises Spark's own AnalysisException") {
    val e = intercept[AnalysisException](Tables.load(spark, s"$sf0001/no_such_dir", "region"))
    assert(e.getCondition === "PATH_NOT_FOUND")
  }
}
