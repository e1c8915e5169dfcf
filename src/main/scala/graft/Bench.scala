package graft
import org.apache.spark.sql.SparkSession

/** Driver benchmark. Per query: one untimed warmup pass, then
  * `BestOf` timed passes — the reported figure is the per-query MIN
  * (same-JVM single-shot timings showed ±2x noise round-over-round;
  * minima are the standard stable estimator). A SCALE-RATIO harness
  * also runs every query at a 10x-smaller SF (SPARK_GRAFT_SCALE_DIR,
  * default sf0.01): t(big)/t(small) near the data ratio means the
  * plan scales linearly; ratios past `FlagRatio` flag a stage that
  * grows super-linearly and would bury a 100 TB run.
  *
  * Output contract: the FULL per-query JSON (minima + every timed
  * run + ratios) is written to BENCH_FULL.json in the working
  * directory; stdout carries ONE compact JSON line (total, errors,
  * flagged, slowest queries, pointer to the full file) — compact
  * because the driver's log capture keeps only the last ~2000
  * characters of stdout, and a complete parseable line must fit
  * inside that window (a full 150-query map cannot).
  */
object Bench {
  private val FlagRatio = 15.0
  private val BestOf = 2
  private val TopInline = 15
  private val IsoTop = 10 // fresh-JVM isolation runs for the slowest N

  /** Re-time the slowest queries in FRESH JVMs ([[Probe]] children,
    * classpath + module flags inherited from this forked JVM): same-JVM
    * minima share JIT/page-cache state across the catalog; the isolated
    * number is the one a cold executor would see. Failures degrade to
    * an empty map — isolation must never fail the bench.
    */
  private def isolated(sfDir: String, names: Seq[String]): Map[String, Double] = {
    if (sys.env.get("SPARK_GRAFT_ISO").contains("0")) return Map.empty
    names.flatMap { n =>
      try Probe.child(Seq(sfDir, n)).headOption.flatMap(_.min).map(n -> _)
      catch { case _: Throwable => None }
    }.toMap
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val scaleDir = sys.env.get("SPARK_GRAFT_SCALE_DIR")
      .orElse(Some("/root/testdata/sf0.01"))
      .filter(d => d != sfDir && new java.io.File(d).isDirectory)
    val spark = Tables.session()
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
    // Warmup pass (JVM/codegen/broadcast warm; not timed).
    ordered.foreach { case (_, fn) =>
      try fn(spark, sfDir).count() catch { case _: Throwable => () }
    }
    def timeOne(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
        dir: String): (Double, Boolean) = {
      val t0 = System.nanoTime()
      val ok = try { fn(spark, dir).count(); true } catch { case _: Throwable => false }
      ((System.nanoTime() - t0) / 1e9, ok)
    }
    // small-SF pass first (also further warmup for the main passes)
    val small = scaleDir.map { d =>
      ordered.map { case (name, fn) => name -> timeOne(fn, d) }.toMap
    }
    // Pass-major order (all queries, then repeat): back-to-back runs
    // of one query share page cache/broadcast state and under-report;
    // interleaving keeps each timing honest while minima still damp
    // scheduler noise.
    val passes = (1 to BestOf).map { _ =>
      ordered.map { case (name, fn) => name -> timeOne(fn, sfDir) }
    }
    val byName = ordered.map { case (name, _) =>
      val runs = passes.map(_.find(_._1 == name).get._2)
      val oks = runs.filter(_._2).map(_._1)
      (name, runs, oks.nonEmpty, if (oks.nonEmpty) oks.min else -1.0)
    }
    def jq(s: String) = "\"" + s + "\""
    def jd(d: Double) = f"$d%.3f"
    val minJson = byName.map { case (n, _, ok, mn) =>
      s"${jq(n)}:${if (ok) jd(mn) else "null"}" }.mkString("{", ",", "}")
    // per-run ok flags persist alongside the times: a query that
    // flaps (one pass throws, the other succeeds) must be VISIBLE in
    // the report, not masked by the surviving pass's minimum
    val runsJson = byName.map { case (n, runs, _, _) =>
      val rs = runs.map { case (t, ok) => s"""{"t":${jd(t)},"ok":$ok}""" }
      s"${jq(n)}:[${rs.mkString(",")}]"
    }.mkString("{", ",", "}")
    val flakyNames = byName.collect {
      case (n, runs, true, _) if runs.exists(!_._2) => n }
    val flaky = flakyNames.map(jq).mkString("[", ",", "]")
    val errs = byName.collect { case (n, _, false, _) => jq(n) }
      .mkString("[", ",", "]")
    val total = byName.collect { case (_, _, true, mn) => mn }.sum
    val ratios = small match {
      case Some(sm) => byName.flatMap { case (n, _, ok, mn) =>
        sm.get(n).collect { case (sv, true) if ok && sv > 0 => n -> mn / sv } }
      case None => Seq.empty
    }
    val flagged = ratios.collect { case (n, r) if r > FlagRatio => jq(n) }
      .mkString("[", ",", "]")
    val scaleJson = scaleDir match {
      case Some(sd) =>
        val rj = ratios.map { case (n, r) => s"${jq(n)}:${jd(r)}" }
          .mkString("{", ",", "}")
        s""","scale":{"small_sf":${jq(sd)},"flag_ratio":$FlagRatio,"ratios":$rj,"flagged":$flagged}"""
      case None => ""
    }
    // fresh-JVM isolation for the slowest IsoTop queries (see isolated())
    val isoNames = byName.filter(_._3).sortBy(-_._4).take(IsoTop).map(_._1)
    val iso = isolated(sfDir, isoNames)
    val isoJson = iso.toSeq.sortBy(_._1)
      .map { case (n, v) => s"${jq(n)}:${jd(v)}" }.mkString("{", ",", "}")
    val fullPath = new java.io.File("BENCH_FULL.json").getAbsolutePath
    val full =
      s"""{"metric":"total","value":${jd(total)},"unit":"sec","sf":${jq(sfDir)},""" +
        s""""best_of":$BestOf,"queries":$minJson,"runs":$runsJson,""" +
        s""""isolated":$isoJson,"errors":$errs,"flaky":$flaky$scaleJson}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(fullPath), full + "\n")
    // compact stdout line (fits the driver's 2000-char tail capture):
    // aggregate + errors + flags + the slowest queries by min
    val top = byName.filter(_._3).sortBy(-_._4).take(TopInline)
      .map { case (n, _, _, mn) => s"${jq(n)}:${jd(mn)}" }
      .mkString("{", ",", "}")
    val line =
      s"""{"metric":"total","value":${jd(total)},"unit":"sec","sf":${jq(sfDir)},""" +
        s""""n_queries":${byName.size},"best_of":$BestOf,"errors":$errs,""" +
        s""""flaky":$flaky,""" +
        s""""flagged":$flagged,"queries":$top,"queries_truncated":true,""" +
        s""""full":${jq(fullPath)}}"""
    // file-based fallback for the stdout contract: the identical
    // compact line, so a log-capture mangling (prefixes, truncation)
    // never costs the round its per-query PERF data again
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(new java.io.File("BENCH_LINE.json").getAbsolutePath),
      line + "\n")
    println(line)
    spark.stop()
  }
}
