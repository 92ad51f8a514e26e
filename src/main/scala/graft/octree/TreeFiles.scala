package graft.octree

import java.nio.file.{FileVisitResult, Files, Path, Paths, SimpleFileVisitor}
import java.nio.file.attribute.BasicFileAttributes
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession

/** The one walker over an octant tree (or any directory of block
  * files): the driver lists the tree once with `java.nio`, and the
  * matching files are spread over `defaultParallelism` partitions,
  * balanced by length, each read whole with `Files.readAllBytes` on an
  * executor.
  *
  * This replaces recursive `binaryFile` scans, which pay Hadoop
  * file-status and split costs on every tiny block file (about 0.9 ms
  * of task time per file), and the resume listing of
  * [[OctreePipeline.writeTree]]. Like Spark's file index, names
  * starting with `.` or `_` are skipped, files and directories alike,
  * so checksum sidecars and staging leftovers never parse as blocks.
  *
  * Trees must sit on a filesystem the driver and every executor see
  * at the same path — [[OctreePipeline.writeTree]] writes them that
  * way already. Object-store trees are out of scope.
  */
object TreeFiles {

  private def hidden(p: Path): Boolean = {
    val n = p.getFileName.toString
    n.startsWith(".") || n.startsWith("_")
  }

  /** Every visible file under `root` as ('/'-joined path relative to
    * the root, length), sorted by path. Throws when the root is not a
    * directory.
    */
  def list(root: String): Seq[(String, Long)] = {
    val top = Paths.get(root)
    if (!Files.isDirectory(top)) throw new java.io.FileNotFoundException(s"no tree at $root")
    val out = Seq.newBuilder[(String, Long)]
    Files.walkFileTree(top, new SimpleFileVisitor[Path] {
      override def preVisitDirectory(d: Path, a: BasicFileAttributes): FileVisitResult =
        if (d != top && hidden(d)) FileVisitResult.SKIP_SUBTREE else FileVisitResult.CONTINUE
      override def visitFile(f: Path, a: BasicFileAttributes): FileVisitResult = {
        if (a.isRegularFile && !hidden(f)) {
          val rel = top.relativize(f)
          out += ((0 until rel.getNameCount).map(rel.getName(_).toString).mkString("/")
            -> a.size)
        }
        FileVisitResult.CONTINUE
      }
    })
    out.result().sortBy(_._1)
  }

  /** (relative path, bytes) of every visible file under `root` whose
    * name ends with `suffix`. The listing happens now, on the driver;
    * the reads happen on executors, each task reading its files one
    * after another as its consumer asks for them.
    */
  def read(spark: SparkSession, root: String, suffix: String): RDD[(String, Array[Byte])] = {
    val files = list(root).filter(_._1.endsWith(suffix))
    val n = spark.sparkContext.defaultParallelism
    // longest first onto the lightest partition
    val load = new Array[Long](n)
    val parts = Array.fill(n)(Vector.newBuilder[String])
    files.sortBy(-_._2).foreach { case (rel, len) =>
      val i = load.indices.minBy(load(_))
      parts(i) += rel
      load(i) += len
    }
    val base = Paths.get(root).toAbsolutePath.toString
    spark.sparkContext.parallelize(parts.map(_.result()).toSeq, n)
      .flatMap(_.iterator.map(rel => rel -> Files.readAllBytes(Paths.get(base, rel))))
  }
}
