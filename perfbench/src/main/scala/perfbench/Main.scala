package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.{GraftSession, Materialized, SparkEntry}

/** Closed-loop benchmark driver: one client thread, `local[nproc]`.
  *
  * {{{
  * perfbench.Main --kind batch|stream --keys k1,k2,.. --data <dir>
  *   --seed <n> --seconds <s> --trace 0|1 --out <dir> --start-ms <epoch ms>
  *   [--batches <n> --docs <n>] (stream)
  * }}}
  *
  * Batch kinds drop every memo, then run every key of the workload once
  * per pass, in an order the seed shuffles per pass: construct the DataFrame
  * (`SparkEntry.queries(key)(spark, dir)`), then execute it into the
  * noop sink. Stream kinds replay the inputs through streaming twins
  * (see [[StreamReplay]]). Passes repeat until `--seconds` are used.
  *
  * Writes `<out>/result.json` (timings, per-layer counts, checks) and,
  * with `--trace 1`, `<out>/spans.jsonl`; batch kinds also write each
  * key's result as parquet under `<out>/check` (after the timed passes),
  * and the warm-up result of each key without an oracle under
  * `<out>/warm`, for the oracle comparison and the row-count stability
  * check.
  */
object Main {
  final case class Args(m: Map[String, String]) {
    def apply(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
  }

  /** One key (or micro-batch) of one pass. */
  final case class StepTime(pass: Int, key: String, constructS: Double, executeS: Double,
                            memoBuilds: Int, error: Option[String])

  final class Run(val spark: SparkSession, val args: Args) {
    val dir: String = args("data")
    val out: String = args("out")
    val traced: Boolean = args("trace") == "1"
    val tracer = new Tracer(spark)
    val rng = new scala.util.Random(args("seed").toLong)
    val steps = mutable.ArrayBuffer.empty[StepTime]
    val passes = mutable.ArrayBuffer.empty[(Int, Boolean, Double)] // (pass, traced, wall s)
    val layers = mutable.ArrayBuffer.empty[Map[String, Double]]     // per traced pass
    val perStep = mutable.ArrayBuffer.empty[(Int, String, String, Map[String, Double])]
    val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
    val setupReps = mutable.ArrayBuffer.empty[Double]
    def check(name: String, ok: Boolean, detail: String): Unit = checks += ((name, ok, detail))
  }

  def now: Double = System.nanoTime() / 1e9

  /** Whether timed pass `pass` is traced. A traced run orders its passes
    * untraced, traced, traced, untraced (and again), so a drift in pass
    * time over the run cancels out of `trace.overhead_s`. */
  def tracedPass(run: Run, pass: Int): Boolean = run.traced && (pass % 4 == 1 || pass % 4 == 2)

  /** Whether to time another pass after `pass` passes and `elapsedS`
    * seconds: at least two, until `--seconds` have gone; a traced run
    * ends only after a whole untraced-traced-traced-untraced cycle. */
  def morePasses(run: Run, pass: Int, elapsedS: Double): Boolean =
    if (run.traced) pass == 0 || pass % 4 != 0 || elapsedS < run.args("seconds").toDouble
    else pass < 2 || elapsedS < run.args("seconds").toDouble

  def main(argv: Array[String]): Unit = {
    val args = Args(argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap)
    val startMs = args("start-ms").toLong
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = GraftSession.configure(SparkSession.builder(), cores.toString).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - startMs) / 1e3
    val run = new Run(spark, args)
    Files.createDirectories(Paths.get(run.out))
    val extra: Map[String, Any] = args("kind") match {
      case "batch" => Batch.run(run, args("keys").split(",").toSeq)
      case "stream" => StreamReplay.run(run, args("keys").split(",").toSeq, args("batches").toInt)
    }
    // heap still reachable once the timed passes are over (memos and
    // other retained state): used heap after full collections, with
    // pauses that let Spark's cleaner drop the blocks of dropped RDDs
    val heapMb = (1 to 4).map { _ =>
      System.gc()
      Thread.sleep(300)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    }.last
    Results.write(run, sessionS, heapMb, cores, extra)
    spark.stop()
  }
}

/** Batch workloads: per-key construct + execute. */
object Batch {
  import Main._

  /** Untimed passes after the warm-up: the JIT keeps speeding up the
    * first passes. */
  val SettlePasses = 2

  def construct(run: Run, key: String): DataFrame = SparkEntry.queries(key)(run.spark, run.dir)

  def execute(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def writeResult(run: Run, key: String, sub: String): Option[String] =
    try {
      construct(run, key).coalesce(1).write.mode("overwrite").parquet(s"${run.out}/$sub/$key")
      None
    } catch { case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)) }

  def run(run: Run, keys: Seq[String]): Map[String, Any] = {
    val spark = run.spark
    val uuid = org.apache.spark.sql.GraftSqlShim.sessionUUID(spark)
    def memos = Materialized.entriesFor(uuid)

    // warm-up (untimed, part of set-up): every key once, in a fixed
    // order, for JIT, codegen and class loading (the results of keys with
    // no oracle are kept for the row-count stability check); then
    // `SettlePasses` untimed passes
    val tw = now
    val noOracle = keys.filterNot(SparkEntry.oracleSql.contains).toSet
    keys.sorted.foreach { k =>
      if (noOracle(k))
        writeResult(run, k, "warm").foreach(e => System.err.println(s"[perfbench] warm-up $k: $e"))
      else try execute(construct(run, k)) catch { case e: Throwable =>
        System.err.println(s"[perfbench] warm-up $k: ${e.getMessage}") }
    }
    for (_ <- 1 to SettlePasses) {
      Materialized.clear()
      keys.sorted.foreach(k => try execute(construct(run, k)) catch { case _: Throwable => })
    }
    val warmS = now - tw
    // opening every input table, repeated so set-up time is a median
    for (_ <- 1 to 3) {
      val t0 = now
      graft.Tables.all.foreach(t => graft.Tables.load(spark, run.dir, t).schema)
      run.setupReps += now - t0
    }

    val t0 = now
    var pass = 0
    while (morePasses(run, pass, now - t0)) {
      val traced = tracedPass(run, pass)
      if (traced) run.tracer.attach()
      // every pass builds the memos it reads, so memo builds show
      Materialized.clear()
      val order = run.rng.shuffle(keys)
      val passStartMs = run.tracer.nowMs
      val jobs0 = run.tracer.jobsSeen
      val p0 = now
      val stepObjs = mutable.ArrayBuffer.empty[run.tracer.Step]
      run.tracer.span(0, "pass", s"pass $pass") { passId =>
        order.foreach { key =>
          run.tracer.span(passId, "key", key) { keyId =>
            val m0 = memos
            val c0 = now
            var (cS, eS, err) = (0.0, 0.0, Option.empty[String])
            var builds = 0
            try {
              val df = if (traced) {
                val (d, s) = run.tracer.step(keyId, key, "construct")(construct(run, key))
                stepObjs += s; d
              } else construct(run, key)
              cS = now - c0
              builds = memos - m0
              val e0 = now
              if (traced) stepObjs += run.tracer.step(keyId, key, "execute")(execute(df))._2
              else execute(df)
              eS = now - e0
            } catch { case e: Throwable =>
              err = Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
              if (cS == 0.0) cS = now - c0
            }
            run.steps += StepTime(pass, key, cS, eS, builds, err)
          }
        }
      }
      val wall = now - p0
      run.passes += ((pass, traced, wall))
      if (traced) {
        run.tracer.detach()
        val passSteps = run.steps.filter(_.pass == pass)
        val storageMb = spark.sparkContext.getRDDStorageInfo
          .map(r => r.memSize + r.diskSize).sum / (1024.0 * 1024.0)
        val agg = run.tracer.aggregate(stepObjs.toSeq, passStartMs, passStartMs + wall * 1e3)
        run.layers += agg ++ Map(
          "registry.build_s" -> passSteps.map(_.constructS).sum,
          "materialized.builds" -> passSteps.map(_.memoBuilds).sum.toDouble,
          "materialized.build_s" -> passSteps.filter(_.memoBuilds > 0).map(_.constructS).sum,
          "materialized.storage_mb" -> storageMb,
          "pass_s" -> wall,
          "pass" -> pass.toDouble, "trace.all_jobs" -> (run.tracer.jobsSeen - jobs0).toDouble)
        stepObjs.foreach(s => run.perStep += ((pass, s.key, s.phase, s.synchronized(s.c.toMap))))
      }
      pass += 1
    }

    // correctness (untimed): each key's result after the timed passes
    keys.sorted.foreach { k =>
      writeResult(run, k, "check").foreach(e => run.check(s"$k.check_run", ok = false, e))
    }
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => keys.contains(k) }
    Files.writeString(Paths.get(s"${run.out}/oracle.json"), Json.write(oracle))
    Map("warmup_s" -> warmS)
  }
}
