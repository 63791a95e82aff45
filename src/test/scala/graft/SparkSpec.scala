package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Suite}
import org.scalatest.funsuite.AnyFunSuite

/** Shared session base for all suites (getOrCreate → one JVM-wide session). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Session.local(4)

  def sf(name: String): String = s"/root/testdata/$name"
}

/** Suites run in parallel on the ONE shared session; tests that set the
  * session-global checkpoint dir (MaterializeSpec, PrefixCarrySpec)
  * serialize on this lock so they never see each other's dir. */
object CheckpointDirLock

/** Temp directories under `target/` that the suite deletes in afterAll,
  * together with their `<dir>-*` siblings (the `<dir>-ckpt` streaming
  * checkpoints a test or the library puts beside an output dir). */
trait TempDirs extends BeforeAndAfterAll { this: Suite =>
  private val created =
    new java.util.concurrent.ConcurrentLinkedQueue[java.io.File]()

  def tempDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), prefix).toFile
    created.add(d)
    d.toString
  }

  override protected def afterAll(): Unit =
    try created.forEach { d =>
      Option(d.getParentFile.listFiles()).toSeq.flatten
        .filter(_.getName.startsWith(s"${d.getName}-"))
        .foreach(graft.ops.Tiers.deleteRecursively)
      graft.ops.Tiers.deleteRecursively(d)
    } finally super.afterAll()
}
