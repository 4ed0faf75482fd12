package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session, built
  * by the same factory as the Verify/Bench harness mains). */
object SparkSpec {
  lazy val session: SparkSession = Sessions.local()
}

trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  private val scratch = new ConcurrentLinkedQueue[Path]()

  /** A fresh dir under the JVM's tmpdir whose tree is deleted when the
    * suite ends. */
  protected def tempDir(prefix: String): Path = {
    val d = Files.createTempDirectory(prefix)
    scratch.add(d)
    d
  }

  override protected def afterAll(): Unit =
    try scratch.forEach(d => org.apache.commons.io.FileUtils.deleteQuietly(d.toFile))
    finally super.afterAll()

  /** Run `body` with AQE off and restore the PRIOR value after:
    * `qe.observedMetrics` cannot see a CollectMetrics node inside an
    * AdaptiveSparkPlanExec wrapper (its plan isn't part of the
    * `collect`-visible tree in Spark 4.1.2), so metric ASSERTIONS read a
    * non-adaptive plan. The session is suite-shared — save/restore, never
    * hard-code the restored value. */
  protected def withoutAqe[A](body: => A): A = {
    val key = "spark.sql.adaptive.enabled"
    val old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try body finally spark.conf.set(key, old)
  }
}
