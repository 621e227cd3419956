package graft

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ListBuffer
import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = graft.queries.Tables.configure(
    SparkSession.builder().master("local[4]").appName("graft-test"), "4").getOrCreate()

  private val scratchDirs = ListBuffer.empty[Path]

  /** A fresh directory under the checkout's own `target/` (the test JVM
    * runs in the checkout), deleted with its contents when the suite ends,
    * together with the `<dir>-<suffix>` siblings tests and materialized
    * views derive from it.
    */
  def scratchDir(prefix: String): String = synchronized {
    val root = Files.createDirectories(Paths.get(sys.props("user.dir"), "target"))
    val d = Files.createTempDirectory(root, prefix)
    scratchDirs += d
    d.toString
  }

  override def afterAll(): Unit = {
    // keep the session for other suites (getOrCreate shares it); a dir a
    // straggling task still writes into is left behind, not a failure
    try synchronized {
      val derived = scratchDirs.map(_.getFileName.toString + "-")
      val siblings = scratchDirs.headOption.toList.flatMap { d =>
        Try {
          val ls = Files.list(d.getParent)
          try ls.iterator.asScala
            .filter(p => derived.exists(p.getFileName.toString.startsWith)).toList
          finally ls.close()
        }.getOrElse(Nil)
      }
      (scratchDirs ++ siblings).foreach { d =>
        Try {
          val walk = Files.walk(d)
          try walk.sorted(java.util.Comparator.reverseOrder[Path]())
            .forEach(p => Files.deleteIfExists(p))
          finally walk.close()
        }
      }
      scratchDirs.clear()
    } finally super.afterAll()
  }
}
