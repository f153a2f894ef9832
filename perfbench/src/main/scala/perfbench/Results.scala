package perfbench

import java.nio.file.{Files, Paths}

/** Writes what one run measured to `<out>/result.json` (the benchmark's
  * front end turns it into metrics) and, for a traced run, every span to
  * `<out>/spans.jsonl`. */
object Results {
  def write(run: Main.Run, sessionS: Double, heapMb: Double, cores: Int,
            extra: Map[String, Any]): Unit = {
    val steps = run.steps.map(s => Map("pass" -> s.pass, "key" -> s.key,
      "construct_s" -> s.constructS, "execute_s" -> s.executeS,
      "memo_builds" -> s.memoBuilds, "error" -> s.error))
    val res = Map(
      "session_s" -> sessionS,
      "setup_reps_s" -> run.setupReps,
      "retained_heap_mb" -> heapMb,
      "cores" -> cores,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "spark_version" -> run.spark.version,
      "passes" -> run.passes.map { case (p, t, w) => Map("pass" -> p, "traced" -> t, "wall_s" -> w) },
      "steps" -> steps,
      "layers" -> run.layers,
      "per_step" -> run.perStep.map { case (p, k, ph, c) =>
        Map("pass" -> p, "key" -> k, "phase" -> ph, "counts" -> c) },
      "checks" -> run.checks.map { case (n, ok, d) => Map("name" -> n, "ok" -> ok, "detail" -> d) }
    ) ++ extra
    Files.writeString(Paths.get(s"${run.out}/result.json"), Json.write(res))
    if (run.traced) {
      val lines = run.tracer.spans.sortBy(_.startMs).map { s =>
        Json.write(Map("id" -> s.id, "parent" -> s.parent, "kind" -> s.kind, "name" -> s.name,
          "start_ms" -> s.startMs, "end_ms" -> s.endMs) ++ s.attrs)
      }
      Files.writeString(Paths.get(s"${run.out}/spans.jsonl"), lines.mkString("", "\n", "\n"))
    }
  }
}
