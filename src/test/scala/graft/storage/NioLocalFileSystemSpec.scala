package graft.storage

import java.net.URI
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, FSDataInputStream, FileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.ReflectionUtils
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** graft's `file:` FileSystem leaves on disk what the stock one leaves
  * (the same POSIX mode on every file, `.crc` sidecar and directory,
  * checksums verified on read), and TxLog writes through it start no
  * `chmod` process. */
class NioLocalFileSystemSpec extends SparkSpec {
  import spark.implicits._

  private def hconf = spark.sparkContext.hadoopConfiguration

  /** The class a session without graft's setting mounts for `file:`. */
  private val stockClass = FileSystem.getFileSystemClass("file", new Configuration())

  private def open(cls: Class[_ <: FileSystem], umask: Option[String]): FileSystem = {
    val conf = new Configuration()
    umask.foreach(conf.set("fs.permissions.umask-mode", _))
    val fs = ReflectionUtils.newInstance(cls, conf)
    fs.initialize(URI.create("file:///"), conf)
    fs
  }

  /** The same creates, mkdirs and explicit permission changes, under
    * `root`; returns every path's full mode (sticky bit included),
    * keyed relative to `root`. */
  private def modesAfterWrites(fs: FileSystem, root: java.nio.file.Path): Map[String, Int] = {
    def p(rel: String) = new Path(root.toUri.toString, rel)
    def write(rel: String): Unit = {
      val out = fs.create(p(rel), false)
      try out.write("graft".getBytes("UTF-8")) finally out.close()
    }
    fs.mkdirs(p("a/b/c"))
    write("a/b/c/part-0.parquet")
    write("f.json")
    val out = fs.create(p("a/explicit.bin"), new FsPermission("640"), false, 4096,
      1.toShort, 1L << 20, null)
    out.close()
    fs.mkdirs(p("d750"), new FsPermission("750"))
    Seq("600", "644", "750").foreach { m =>
      write(s"set$m")
      fs.setPermission(p(s"set$m"), new FsPermission(m))
    }
    fs.mkdirs(p("dir700"))
    fs.setPermission(p("dir700"), new FsPermission("700"))
    // a sticky bit NIO cannot express: the stock path sets it
    fs.mkdirs(p("sticky"))
    fs.setPermission(p("sticky"), new FsPermission("1777"))
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(_ != root).map { f =>
      root.relativize(f).toString -> (Files.getAttribute(f, "unix:mode")
        .asInstanceOf[Int] & 0xfff)
    }.toMap
    finally walk.close()
  }

  test("graft's FS writes the same POSIX bits as the stock FS, default umask and 077") {
    assert(stockClass != classOf[NioLocalFileSystem])
    Seq(None, Some("077")).foreach { umask =>
      val modes = Seq[Class[_ <: FileSystem]](classOf[NioLocalFileSystem], stockClass)
        .map { cls =>
          val fs = open(cls, umask)
          try modesAfterWrites(fs, Files.createTempDirectory("graft_perm"))
          finally fs.close()
        }
      val (graftModes, stockModes) = (modes(0), modes(1))
      def fmt(m: Map[String, Int]) =
        m.toSeq.sorted.map { case (k, v) => f"$k=$v%o" }.mkString(", ")
      assert(graftModes == stockModes,
        s"umask $umask: graft ${fmt(graftModes)} vs stock ${fmt(stockModes)}")
      Seq("a/b/c/.part-0.parquet.crc", "a/.explicit.bin.crc", ".f.json.crc")
        .foreach(crc => assert(graftModes.contains(crc), s"missing sidecar $crc"))
      assert(graftModes("set600") == Integer.parseInt("600", 8))
      assert(graftModes("set750") == Integer.parseInt("750", 8))
      assert((graftModes("sticky") & Integer.parseInt("1000", 8)) != 0)
      if (umask.contains("077")) assert(graftModes("f.json") == Integer.parseInt("600", 8))
    }
  }

  test("a corrupted data byte still fails its checksum on read") {
    // the stock failure report moves the bad file to the highest
    // writable directory of its device; this copy keeps it in place
    val fs = new NioLocalFileSystem {
      override def reportChecksumFailure(p: Path, in: FSDataInputStream, inPos: Long,
          sums: FSDataInputStream, sumsPos: Long): Boolean = false
    }
    fs.initialize(URI.create("file:///"), new Configuration())
    try {
      val dir = Files.createTempDirectory("graft_crc")
      val p = new Path(dir.toUri.toString, "data.bin")
      val bytes = Array.tabulate[Byte](4096)(i => (i % 251).toByte)
      val out = fs.create(p, false)
      try out.write(bytes) finally out.close()
      assert(Files.exists(dir.resolve(".data.bin.crc")))
      def readBack(): Array[Byte] = {
        val in = fs.open(p)
        try in.readAllBytes() finally in.close()
      }
      assert(java.util.Arrays.equals(readBack(), bytes))
      val raf = new java.io.RandomAccessFile(dir.resolve("data.bin").toFile, "rw")
      try { raf.seek(1000); raf.write(bytes(1000) ^ 0xff) } finally raf.close()
      intercept[ChecksumException](readBack())
    } finally fs.close()
  }

  test("rename refuses an existing destination file, as the stock FS does") {
    Seq[Class[_ <: FileSystem]](classOf[NioLocalFileSystem], stockClass).foreach { cls =>
      val fs = open(cls, None)
      try {
        val dir = Files.createTempDirectory("graft_ren")
        def p(n: String) = new Path(dir.toUri.toString, n)
        Seq("src" -> "new", "dst" -> "old").foreach { case (n, body) =>
          val out = fs.create(p(n), false)
          try out.write(body.getBytes("UTF-8")) finally out.close()
        }
        assert(!fs.rename(p("src"), p("dst")), s"${cls.getName} overwrote dst")
        assert(new String(Files.readAllBytes(dir.resolve("dst")), "UTF-8") == "old")
        assert(fs.rename(p("src"), p("moved")))
      } finally fs.close()
    }
  }

  /** The command lines of every process the JVM started during `body`. */
  private def processStarts(body: => Unit): Seq[String] = {
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally rec.stop()
    val dump = Files.createTempFile("graft_forks", ".jfr")
    try {
      rec.dump(dump)
      jdk.jfr.consumer.RecordingFile.readAllEvents(dump).asScala
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(_.getString("command")).toSeq
    } finally { rec.close(); Files.deleteIfExists(dump) }
  }

  test("TxLog create, append, DV delete, merge and optimize start no chmod process") {
    assert(FileSystem.get(URI.create("file:///"), hconf).getClass ==
      classOf[NioLocalFileSystem])
    assert(FileSystem.getLocal(hconf).isInstanceOf[NioLocalFileSystem])
    val path = Files.createTempDirectory("graft_nofork").toString + "/tbl"
    def rows(ks: Seq[Long]) = ks.map(k => (k, s"p${k % 2}", k * 1.0)).toDF("k", "part", "v")
    val started = processStarts {
      TxLog.create(rows(1L to 8L).repartition(2), path, Some("part"), statsCols = Seq("k"))
      TxLog.append(rows(9L to 16L).repartition(2), path)
      TxLog.deleteWhere(spark, path, col("k") === 3L, deletionVectors = true)
      TxLog.mergeInto(path, rows(Seq(2L, 100L)), Seq("k"))
      TxLog.compact(spark, path)
    }
    assert(!started.exists(_.contains("chmod")),
      s"TxLog writes forked chmod: ${started.filter(_.contains("chmod")).take(3)}")
    assert(TxLog.read(spark, path).count() == 16L)
    // the recorder does see a stock chmod fork where one happens
    if (!org.apache.hadoop.io.nativeio.NativeIO.isAvailable) {
      val stock = new org.apache.hadoop.fs.RawLocalFileSystem
      stock.initialize(URI.create("file:///"), new Configuration())
      val f = Files.createTempFile("graft_chmod", ".bin")
      try assert(processStarts(stock.setPermission(new Path(f.toUri.toString),
        new FsPermission("644"))).exists(_.contains("chmod")))
      finally { Files.deleteIfExists(f); stock.close() }
    }
  }
}
