package graft

import java.io.File
import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.FileSystem
import org.apache.hadoop.util.ShutdownHookManager
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM-wide session keeps the
  * suite fast; tests use isolated temp dirs for any writes).
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSpec.session

  /** A fresh temp dir, deleted with its contents when the test JVM exits. */
  def tmpDir(prefix: String): String = SparkSpec.tmpDir(prefix)
}

object SparkSpec {
  // built through the shared engine-conf factory (r16) so specs assert
  // against the same session configuration Bench and Verify run
  lazy val session: SparkSession = graft.EngineSession.builder("local[4]", "4")
    .appName("graft-test")
    .getOrCreate()

  private val created = new ConcurrentLinkedQueue[File]()

  // Hadoop runs shutdown hooks by priority, highest first: Spark's (which
  // stop the session and its streaming queries) run at FileSystem's + 30,
  // so at FileSystem's + 10 nothing writes into these dirs any more, and
  // the FileSystem cache (closed at FileSystem's own priority) is still open
  private lazy val deleteOnExit: Unit =
    ShutdownHookManager.get().addShutdownHook(
      () => created.asScala.foreach(deleteRecursively), FileSystem.SHUTDOWN_HOOK_PRIORITY + 10)

  def tmpDir(prefix: String): String = {
    deleteOnExit
    val d = Files.createTempDirectory(prefix).toFile
    created.add(d)
    d.toString
  }

  private def deleteRecursively(f: File): Unit = {
    // a symlink is removed, never followed
    if (f.isDirectory && !Files.isSymbolicLink(f.toPath))
      Option(f.listFiles).toSeq.flatten.foreach(deleteRecursively)
    f.delete()
  }
}
