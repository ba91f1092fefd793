package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

import graft.ann.LsmStore

/** Reads and hand-writes the manifests of an LSM store, and copies or
  * deletes its directories, for specs that stage a crash point or an
  * older store layout. */
object LsmTestKit {

  private def fs(spark: SparkSession, path: String): FileSystem =
    FileSystem.get(new Path(path).toUri, spark.sparkContext.hadoopConfiguration)

  /** The newest manifest of the store at `path`. */
  def manifest(spark: SparkSession, path: String): LsmStore.Manifest =
    LsmStore.latest(fs(spark, path), path).get

  /** The number the next manifest of the store at `path` takes. */
  def nextNumber(path: String): Int =
    Option(new java.io.File(s"$path/_lsm").list()).toSeq.flatten
      .flatMap(_.toIntOption).maxOption.fold(0)(_ + 1)

  /** Publish `edit(newest)` as the next manifest, as a commit does. */
  def publish(spark: SparkSession, path: String)(
      edit: LsmStore.Manifest => LsmStore.Manifest): LsmStore.Manifest = {
    val next = edit(manifest(spark, path)).copy(n = nextNumber(path))
    LsmStore.write(fs(spark, path), next)
    next
  }

  def exists(path: String): Boolean = Files.exists(Paths.get(path))

  /** Delete a file or a directory tree (absent is fine). */
  def rm(path: String): Unit = {
    val f = Paths.get(path)
    if (Files.exists(f))
      Files.walk(f).sorted(java.util.Comparator.reverseOrder())
        .forEach(x => Files.delete(x))
  }

  /** Copy a directory tree, replacing files that exist. */
  def cp(from: String, to: String): Unit = {
    val src = Paths.get(from)
    val dst = Paths.get(to)
    Files.walk(src).forEach { p =>
      val t = dst.resolve(src.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t, StandardCopyOption.REPLACE_EXISTING)
    }
  }

  /** Write a small file whole. */
  def write(path: String, body: String): Unit = {
    Files.createDirectories(Paths.get(path).getParent)
    Files.write(Paths.get(path), body.getBytes("UTF-8"))
  }
}
