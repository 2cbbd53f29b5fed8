package graft

/** The same-container DuckDB control for every bench artifact (VERDICT
  * r7 #1, extended to the stream/xops artifacts per VERDICT r12 #1): the
  * container floor drifts between rounds (measured ±30%), so every timed
  * suite is paired with a co-measured DuckDB control, interleaved with
  * its own timings — drift moves numerator and denominator together and
  * the paired ratio stays attributable at a glance.
  *
  * The control is ALWAYS the BASELINE.md q-suite oracles, for every
  * suite:
  *  - for the q bench it IS the gate pair (apples-to-apples engine
  *    ratio);
  *  - for the xops/stream benches it is a DRIFT CONTROL, not an engine
  *    comparison: the x-oracles themselves are unusable as a control —
  *    one DuckDB pass over all 281 at sf0.1 exceeded 10 minutes when
  *    measured (r13), dominated by the deliberately-quadratic spec
  *    baselines (the x48/x49 class, quadratic by design so the oracle
  *    stays declarative) — and a control only needs to be stable,
  *    cheap, and co-measured, which the ~1.2 s q-suite is. The
  *    artifact names its control so the ratio can never be misread as
  *    an engine comparison.
  */
object PairedControl {

  val ControlName = "duckdb-q-suite"

  /** A long-lived DuckDB worker for per-query interleaved pairing
    * (VERDICT r15 #2): one warm in-memory DB serves median-of-3
    * timings on demand (the BASELINE.md protocol), so Bench can time
    * each query's oracle IMMEDIATELY after the same query's Spark reps
    * — drift moves both engines together at per-query granularity,
    * where the old pre/post bracket under-sampled spikes inside the
    * ~30 s Spark window. Any protocol hiccup marks the worker dead; a
    * caller then reports a null pair (never a crashed bench). */
  final class InterleavedDuck private[PairedControl] (proc: Process) {
    private val in = new java.io.BufferedReader(
      new java.io.InputStreamReader(proc.getInputStream, "UTF-8"))
    private val out = new java.io.PrintWriter(
      new java.io.OutputStreamWriter(proc.getOutputStream, "UTF-8"), true)
    private var dead = false

    private[PairedControl] def awaitReady(): Boolean =
      try { val l = in.readLine(); l != null && l.contains("\"ready\"") }
      catch { case scala.util.control.NonFatal(_) => dead = true; false }

    /** Median-of-3 DuckDB seconds for `name`, or None once dead. */
    def time(name: String): Option[Double] =
      if (dead) None
      else try {
        out.println(name)
        val l = in.readLine()
        if (l == null) { dead = true; None }
        else """"sec"\s*:\s*([0-9.]+)""".r.findFirstMatchIn(l)
          .map(_.group(1).toDouble)
      } catch { case scala.util.control.NonFatal(_) => dead = true; None }

    def close(): Unit = {
      try { out.println("EXIT"); out.close() }
      catch { case scala.util.control.NonFatal(_) => }
      try { if (!proc.waitFor(5, java.util.concurrent.TimeUnit.SECONDS))
        proc.destroyForcibly() }
      catch { case scala.util.control.NonFatal(_) => proc.destroyForcibly() }
    }
  }

  /** Start the interleaved worker over `names`' oracles (blocks through
    * its warm pass). None when python/duckdb/the tool is unavailable —
    * the run then reports `paired_mode: "none"`. */
  def interleaved(sfDir: String, names: Seq[String]): Option[InterleavedDuck] =
    try {
      val sqls = names.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _))
      val script = Seq("tools/paired_duck.py", "/root/repo/tools/paired_duck.py")
        .map(new java.io.File(_)).find(_.isFile)
      if (sqls.isEmpty || script.isEmpty) return None
      val tmp = java.io.File.createTempFile("graft-paired", ".json")
      tmp.deleteOnExit()
      val w = new java.io.PrintWriter(tmp, "UTF-8")
      try w.write(sqls.map { case (n, q) =>
        s""""${JsonOut.esc(n)}":"${JsonOut.esc(q)}"""" }
        .mkString("{", ",", "}"))
      finally w.close()
      val pb = new ProcessBuilder("python3", script.get.getPath, sfDir,
        tmp.getPath)
      pb.redirectError(ProcessBuilder.Redirect.INHERIT)
      val worker = new InterleavedDuck(pb.start())
      if (worker.awaitReady()) Some(worker) else { worker.close(); None }
    } catch { case scala.util.control.NonFatal(_) => None }
}
