package graft.octree

import java.nio.file.{FileVisitResult, Files, Path, Paths, SimpleFileVisitor}
import java.nio.file.attribute.BasicFileAttributes
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession

/** The one path that lists, reads and writes volume block files: octant
  * trees, slice directories, TIFF stacks, N5 and Zarr v2/v3 chunk
  * directories and [[graft.sources.VolumeSink]] stores. The driver
  * lists a root once with `java.nio`, and the selected files are spread
  * over `defaultParallelism` partitions, balanced by length, each read
  * whole with `Files.readAllBytes` on an executor. Writers put each
  * file at one root-relative path with [[write]].
  *
  * This replaces Hadoop `binaryFile` scans, which pay file-status and
  * split costs on every tiny block file (about 0.9 ms of task time per
  * file), and the resume listing of [[OctreePipeline.writeTree]]. Like
  * Spark's file index, names starting with `.` or `_` are skipped,
  * files and directories alike, so checksum sidecars, Zarr `.zarray`
  * metadata and staging leftovers never parse as blocks.
  *
  * Every root must sit on a filesystem the driver and every executor
  * see at the same path, which is how the writers here put them.
  * Object stores are out of scope.
  */
object TreeFiles {

  private def hidden(p: Path): Boolean = {
    val n = p.getFileName.toString
    n.startsWith(".") || n.startsWith("_")
  }

  /** Every visible file under `root` as ('/'-joined path relative to
    * the root, length), sorted by path. Throws `FileNotFoundException`
    * when the root is not a directory.
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
    * relative path `keep` accepts. The listing and the selection happen
    * now, on the driver; the reads happen on executors, each task
    * reading its files one after another as its consumer asks for them.
    */
  def read(spark: SparkSession, root: String, keep: String => Boolean): RDD[(String, Array[Byte])] = {
    val files = list(root).filter(f => keep(f._1))
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

  /** Write `bytes` to the '/'-joined path `rel` under `root`, creating
    * missing parent directories; an existing file is replaced.
    */
  def write(root: String, rel: String, bytes: Array[Byte]): Unit = {
    val f = Paths.get(root, rel)
    f.getParent.toFile.mkdirs()
    Files.write(f, bytes): Unit
  }
}
