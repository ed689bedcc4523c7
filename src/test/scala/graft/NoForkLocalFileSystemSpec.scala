package graft

import java.nio.file.{Files, Path => JPath}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO
import scala.jdk.CollectionConverters._

/** The `file:` filesystem the sessions register sets the same
  * permission bits Hadoop's own does, without forking `chmod`. */
class NoForkLocalFileSystemSpec extends SparkSpec {

  private def mode(p: JPath): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  test("setPermission sets exactly the rwx bits without a fork; a sticky mode goes to Hadoop") {
    val fs = new NoForkLocalFileSystem
    fs.initialize(java.net.URI.create("file:///"), new Configuration())
    val dir = Files.createTempDirectory("noforkfs")
    val file = Files.createFile(dir.resolve("f"))
    val modes = Seq(0x180, 0x1a4, 0x1c0, 0x1ed, 0) // 0600, 0644, 0700, 0755, 0000
    val (onDisk, forks) = forksDuring(modes.map { m =>
      fs.setPermission(new Path(file.toUri), new FsPermission(m.toShort))
      mode(file)
    })
    assert(onDisk == modes)
    assert(forks.isEmpty, forks)
    // java.nio cannot set the sticky bit, so Hadoop's chmod must run
    val sticky = 0x3ff // 01777
    val (_, stickyForks) = forksDuring(
      fs.setPermission(new Path(dir.toUri), new FsPermission(sticky.toShort)))
    assert(mode(dir) == sticky)
    assert(stickyForks.size == (if (NativeIO.isAvailable) 0 else 1), stickyForks)
    Harness.deleteRecursively(dir.toFile)
  }

  test("a written layer has the same permission bits as a plain LocalFileSystem write") {
    import spark.implicits._
    val df = Seq((2011, 1, "a", 1.0), (2011, 2, "b", 2.0), (2012, 1, "c", 3.0))
      .toDF("ano", "mes", "k", "v")
    val root = Files.createTempDirectory("noforkfs-layer")
    // relative path, part-file ids blanked -> (is directory, mode)
    def modes(layer: JPath): Map[String, (Boolean, Int)] = {
      val all = Files.walk(layer)
      try all.iterator.asScala.map { p =>
        layer.relativize(p).toString.replaceAll("[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}", "U") ->
          (Files.isDirectory(p), mode(p))
      }.toMap
      finally all.close()
    }
    def write(layer: JPath, options: Map[String, String]): Seq[String] =
      forksDuring(df.write.options(options).partitionBy("ano", "mes").parquet(layer.toString))._2
    val noFork = write(root.resolve("nofork"), Map.empty)
    // write options reach the job's Hadoop conf; with the cache off the
    // write builds Hadoop's own class
    val plain = write(root.resolve("plain"), Map(
      "fs.file.impl" -> classOf[LocalFileSystem].getName, "fs.file.impl.disable.cache" -> "true"))
    assert(noFork.isEmpty, noFork)
    if (!NativeIO.isAvailable) assert(plain.nonEmpty) // Hadoop's path forked chmod
    val expected = modes(root.resolve("plain"))
    assert(expected.values.exists(_._1) && expected.keys.exists(_.endsWith(".parquet.crc")))
    assert(modes(root.resolve("nofork")) == expected)
    Harness.deleteRecursively(root.toFile)
  }
}
