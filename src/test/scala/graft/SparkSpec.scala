package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session per suite (guide: one lazy session, not per
  * test), built by the same [[Tables.session]] as Verify/Bench so
  * specs see the same semantics.
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Tables.session(cpus = "4")

  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString
}
