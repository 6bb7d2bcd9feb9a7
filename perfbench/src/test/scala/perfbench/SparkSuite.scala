package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One local session shared by the suites of the forked test JVM. */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def tempDir(): Path = {
    val d = Files.createTempDirectory("perfbench-spec")
    d.toFile.deleteOnExit()
    d
  }
}
