package graft

import graft.runner.JobConfig

/** CLI: run a properties-defined job (see examples/events_ingest
  * .properties) — the EmbeddedGobblin equivalent.
  */
object RunJob {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: RunJob <job.properties> [cpus]")
    val cpus = args.lift(1).getOrElse(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    val spark = Tables.session(cpus)
    val props = JobConfig.parse(
      java.nio.file.Files.readString(java.nio.file.Paths.get(args.head)))
    val result = JobConfig.runAny(spark, props)
    println(result.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString(" "))
    spark.stop()
  }
}
