package perfbench

import org.apache.spark.sql.{DataFrame, Encoder, SQLContext}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, md5, unix_micros}
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery}

import graft.Tables
import graft.operators.TextAnalysis
import graft.streaming.{CurateStream, EventStreams}

/** Streaming workload: the inputs are replayed in `batches` equal
  * micro-batches (in event-time order) through each streaming twin, one
  * twin after another in a seed-shuffled order, each pass starting fresh
  * queries with fresh state. One step is one micro-batch: `addData` plus
  * `processAllAvailable`.
  *
  * Twins (names as in the workload's key list):
  *   - `session_gaps`: EventStreams.sessionGaps, flatMapGroupsWithState
  *     keyed by user;
  *   - `semantic_dup`: EventStreams.streamingSemanticDupFlags, LSH
  *     buckets of vectors in state;
  *   - `curate_sink`: CurateStream.curateToSink, dedup state in a parquet sink.
  */
object StreamReplay {
  import Main._

  /** Untimed passes after the concurrent warm-up replay. */
  val SettlePasses = 1

  /** The replay inputs, collected to the driver (only what `twins` use). */
  final class Inputs(run: Run, twins: Seq[String], dir: String, maxDocs: Int) {
    private val spark = run.spark
    import spark.implicits._
    private val events = Tables.events(spark, dir)
    lazy val sess: Seq[EventStreams.SessEvent] = events
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us")).as[EventStreams.SessEvent].collect().sortBy(_.ts_us).toSeq
    lazy val vecs: Seq[(Long, Seq[Double])] = Tables.embeddings(spark, dir)
      .selectExpr("vec_id", "cast(embedding as array<double>) as v")
      .as[(Long, Seq[Double])].collect().sortBy(_._1).toSeq
    // documents beyond `maxDocs` are left out, to fit the run length
    val docsDf: DataFrame = Tables.documents(spark, dir).select("doc_id", "source", "lang", "text")
      .where(col("doc_id") < maxDocs)
    lazy val docs: Seq[(Long, String, String, String)] =
      docsDf.as[(Long, String, String, String)].collect().sortBy(_._1).toSeq
    def rows(twin: String): Int = twin match {
      case "session_gaps" => sess.size
      case "semantic_dup" => vecs.size
      case "curate_sink" => docs.size
    }
    twins.foreach(rows)
  }

  /** What one twin run left behind, for the checks. */
  final case class TwinOut(query: StreamingQuery, dir: String, table: String)

  private def replay[T: Encoder](run: Run, pass: Int, twin: String, batches: Int, data: Seq[T],
                                 start: MemoryStream[T] => StreamingQuery): StreamingQuery = {
    implicit val sq: SQLContext = run.spark.sqlContext
    val mem = MemoryStream[T]
    val q = start(mem)
    try {
      data.grouped(math.max(1, (data.length + batches - 1) / batches)).foreach { chunk =>
        val t0 = now
        mem.addData(chunk: _*)
        q.processAllAvailable()
        run.steps.synchronized(run.steps += StepTime(pass, twin, 0.0, now - t0, 0, None))
      }
    } finally q.stop()
    q
  }

  private def toMemory(name: String)(w: DataStreamWriter[_]): StreamingQuery =
    w.format("memory").queryName(name).outputMode("append").start()

  def runTwin(run: Run, in: Inputs, pass: Int, twin: String, batches: Int): TwinOut = {
    import run.spark.implicits._
    val dir = s"${run.out}/stream/p$pass/$twin"
    val table = s"pb_${twin}_" + (if (pass < 0) s"w${-pass}" else s"p$pass")
    val q = twin match {
      case "session_gaps" => replay(run, pass, twin, batches, in.sess,
        (m: MemoryStream[EventStreams.SessEvent]) =>
          toMemory(table)(EventStreams.sessionGaps(m.toDS()).toDF().writeStream))
      case "semantic_dup" => replay(run, pass, twin, batches, in.vecs,
        (m: MemoryStream[(Long, Seq[Double])]) =>
          toMemory(table)(EventStreams.streamingSemanticDupFlags(m.toDF().toDF("vec_id", "v")).toDF().writeStream))
      case "curate_sink" => replay(run, pass, twin, batches, in.docs,
        (m: MemoryStream[(Long, String, String, String)]) =>
          CurateStream.curateToSink(m.toDF().toDF("doc_id", "source", "lang", "text"), dir))
    }
    TwinOut(q, dir, table)
  }

  /** Parquet files a sink twin left (state and output, not the checkpoint). */
  def sinkFiles(dir: String): Int = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(root)) 0
    else {
      val s = java.nio.file.Files.walk(root)
      try s.filter(p => p.toString.endsWith(".parquet") && !p.toString.contains("_checkpoint"))
        .count().toInt
      finally s.close()
    }
  }

  private def dropTables(outs: Map[String, TwinOut]): Unit =
    outs.values.foreach(o => o.query.sparkSession.catalog.dropTempView(o.table))

  def run(run: Run, twins: Seq[String], batches: Int): Map[String, Any] = {
    val spark = run.spark
    graft.functions.VectorFunctions.ensureRegistered(spark)
    // set-up: collecting the replay inputs, repeated so set-up time is a
    // median; then one untimed warm-up replay (JIT, codegen, class
    // loading), twins concurrently
    var in: Inputs = null
    for (_ <- 1 to 3) {
      val t0 = now
      in = new Inputs(run, twins, run.dir, run.args("docs").toInt)
      run.setupReps += now - t0
    }
    val tw = now
    val pool = java.util.concurrent.Executors.newFixedThreadPool(twins.size)
    try dropTables(twins.map(t => t -> pool.submit(() => runTwin(run, in, -1, t, batches)))
      .map { case (t, f) => t -> f.get() }.toMap)
    finally pool.shutdown()
    // then untimed passes, as the timed ones run
    for (n <- 0 until SettlePasses)
      dropTables(twins.map(t => t -> runTwin(run, in, -2 - n, t, batches)).toMap)
    run.steps.clear()
    val warmS = now - tw

    val t0 = now
    var pass = 0
    var last = Map.empty[String, TwinOut]
    while (morePasses(run, pass, now - t0)) {
      val traced = tracedPass(run, pass)
      if (traced) run.tracer.attach()
      val passStartMs = run.tracer.nowMs
      val jobs0 = run.tracer.jobsSeen
      val p0 = now
      val stepObjs = scala.collection.mutable.ArrayBuffer.empty[run.tracer.Step]
      val prior = last
      last = run.tracer.span(0, "pass", s"pass $pass") { passId =>
        run.rng.shuffle(twins).map { twin =>
          twin -> run.tracer.span(passId, "key", twin) { keyId =>
            if (!traced) runTwin(run, in, pass, twin, batches)
            else {
              val (o, s) = run.tracer.step(keyId, twin, "stream")(runTwin(run, in, pass, twin, batches))
              stepObjs += s
              o
            }
          }
        }.toMap
      }
      val wall = now - p0
      run.passes += ((pass, traced, wall))
      dropTables(prior)
      if (traced) {
        run.tracer.detach()
        run.layers += run.tracer.aggregate(stepObjs.toSeq, passStartMs, passStartMs + wall * 1e3) ++
          Map("streaming.sink_files" -> last.values.map(o => sinkFiles(o.dir)).sum.toDouble,
            "pass_s" -> wall,
          "pass" -> pass.toDouble, "trace.all_jobs" -> (run.tracer.jobsSeen - jobs0).toDouble)
        stepObjs.foreach(s => run.perStep += ((pass, s.key, s.phase, s.synchronized(s.c.toMap))))
      }
      pass += 1
    }
    check(run, in, last, batches)
    Map("warmup_s" -> warmS, "input_rows" -> twins.map(t => t -> in.rows(t)).toMap)
  }

  /** Final state and sink contents of the last pass against the batch
    * expectation (the bounds graft.StreamStateProbe checks). */
  private def check(run: Run, in: Inputs, out: Map[String, TwinOut], batches: Int): Unit = {
    val spark = run.spark
    def stateRows(o: TwinOut): Long =
      Option(o.query.lastProgress).map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(-1L)
    def storeRowsAll(o: TwinOut): Long =
      o.query.recentProgress.map(_.stateOperators.map(_.numRowsTotal).sum).sum
    out.get("session_gaps").foreach { o =>
      val users = in.sess.map(_.user_id).distinct.size
      run.check("session_gaps.state_rows", stateRows(o) == users,
        s"state rows ${stateRows(o)}, distinct users $users")
      val emitted = spark.table(o.table).count()
      val expected = in.sess.groupBy(_.user_id).values.map(_.size - 1).sum
      run.check("session_gaps.output_rows", emitted <= expected && emitted > 0,
        s"emitted $emitted gaps, at most $expected events after a user's first")
    }
    out.get("semantic_dup").foreach { o =>
      val bound = 4L * 256
      run.check("semantic_dup.state_rows", stateRows(o) > 0 && stateRows(o) <= bound,
        s"state rows ${stateRows(o)}, bucket bound $bound")
    }
    out.get("curate_sink").foreach { o =>
      val digests = spark.read.parquet(s"${o.dir}/_state/digests").count()
      val bands = spark.read.parquet(s"${o.dir}/_state/bands").count()
      val keep = TextAnalysis.gopherRules(in.docsDf).filter(col("keep")).select("doc_id")
      val expected = in.docsDf.join(keep, Seq("doc_id"), "left_semi")
        .select(md5(col("text"))).distinct().count()
      val dirs = Option(new java.io.File(s"${o.dir}/_state/digests").listFiles())
        .map(_.count(_.getName.startsWith("batch_id="))).getOrElse(0)
      run.check("curate_sink.digests", digests == expected, s"sink digests $digests, expected $expected")
      run.check("curate_sink.bands", bands == 4 * digests, s"band rows $bands, digests $digests")
      run.check("curate_sink.batch_dirs", dirs == batches, s"$dirs batch_id dirs, $batches batches")
      run.check("curate_sink.store_rows", storeRowsAll(o) == 0, s"state-store rows ${storeRowsAll(o)}")
    }
  }
}
