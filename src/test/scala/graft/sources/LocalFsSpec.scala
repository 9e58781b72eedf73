package graft.sources

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Paths}
import java.util.EnumSet

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileStatus, FileSystem, LocalFileSystem, Options, Path}
import org.apache.hadoop.util.ReflectionUtils
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The engine's `file:` filesystem ([[ForkFreeLocalFileSystem]],
  * [[ForkFreeLocalFs]]) against Hadoop's stock `LocalFileSystem`: the same
  * bytes, checksums, modes, owners, links, errors and rename outcomes, with
  * no process spawned per operation, and registered for every session. */
class LocalFsSpec extends AnyFunSuite {
  private val root = URI.create("file:///")

  private def fsPair(conf: Configuration): (FileSystem, FileSystem) = {
    val stock = new LocalFileSystem()
    stock.initialize(root, conf)
    val engine = new ForkFreeLocalFileSystem()
    engine.initialize(root, conf)
    (stock, engine)
  }

  /** A file (with its `.crc`), a nested dir and a symlink, made by `fs`. */
  private def buildTree(fs: FileSystem, dir: String): Unit = {
    val out = fs.create(new Path(s"$dir/a/b.txt"))
    try out.write("payload bytes\n".getBytes("UTF-8")) finally out.close()
    fs.mkdirs(new Path(s"$dir/d/e"))
    Files.createSymbolicLink(Paths.get(s"$dir/ln"), Paths.get(s"$dir/a/b.txt"))
  }

  private val treePaths = Seq("a", "a/b.txt", "a/.b.txt.crc", "d", "d/e", "ln")

  private def shape(st: FileStatus) =
    (st.getLen, st.isDirectory, st.getPermission, st.getOwner, st.getGroup)

  /** Builds the tree with each filesystem and reads every entry back: the
    * engine writes the modes stock writes and reads what stock reads. */
  private def modesMatch(conf: Configuration): Map[String, FileStatus] = {
    val (stock, engine) = fsPair(conf)
    val s = Files.createTempDirectory("localfs_stock").toString
    val e = Files.createTempDirectory("localfs_engine").toString
    buildTree(stock, s)
    buildTree(engine, e)
    treePaths.map { p =>
      val viaStock = stock.getFileStatus(new Path(s"$s/$p"))
      assert(shape(engine.getFileStatus(new Path(s"$e/$p"))) === shape(viaStock), p)
      // the same entry read both ways: every field, path and times included
      val cross = engine.getFileStatus(new Path(s"$s/$p"))
      assert(shape(cross) === shape(viaStock), p)
      assert((cross.getPath, cross.getModificationTime, cross.getAccessTime, cross.getBlockSize,
        cross.getReplication) === (viaStock.getPath, viaStock.getModificationTime,
        viaStock.getAccessTime, viaStock.getBlockSize, viaStock.getReplication), p)
      p -> cross
    }.toMap
  }

  test("bytes and .crc sidecars match stock LocalFileSystem byte for byte") {
    val (stock, engine) = fsPair(new Configuration())
    val s = Files.createTempDirectory("localfs_stock").toString
    val e = Files.createTempDirectory("localfs_engine").toString
    buildTree(stock, s)
    buildTree(engine, e)
    for (p <- Seq("a/b.txt", "a/.b.txt.crc"))
      assert(Files.readAllBytes(Paths.get(s"$e/$p")).toSeq === Files.readAllBytes(Paths.get(s"$s/$p")).toSeq, p)
    val in = engine.open(new Path(s"$e/a/b.txt"))
    try assert(new String(in.readAllBytes(), "UTF-8") === "payload bytes\n") finally in.close()
    def listing(fs: FileSystem, dir: String) =
      fs.listStatus(new Path(dir)).map(st => (st.getPath.getName, shape(st))).sortBy(_._1).toSeq
    assert(listing(engine, e) === listing(stock, s))
    assert(listing(engine, s"$e/a") === listing(stock, s"$s/a"))
    // a file lists as itself, built from one status read
    assert(listing(engine, s"$e/a/b.txt") === listing(stock, s"$s/a/b.txt"))
  }

  test("permission bits, owner and group match stock under the default umask and under 077") {
    val default = modesMatch(new Configuration())
    assert(default("a/b.txt").getPermission.toString === "rw-r--r--")
    assert(default("d/e").getPermission.toString === "rwxr-xr-x")
    assert(default("a/b.txt").getOwner === System.getProperty("user.name"))
    val c = new Configuration()
    c.set("fs.permissions.umask-mode", "077")
    val strict = modesMatch(c)
    assert(strict("a/b.txt").getPermission.toString === "rw-------")
    assert(strict("a/.b.txt.crc").getPermission.toString === "rw-------")
    assert(strict("d/e").getPermission.toString === "rwx------")
  }

  test("a symlink reports isSymlink and the same target; a missing path throws FileNotFoundException") {
    val (stock, engine) = fsPair(new Configuration())
    val dir = Files.createTempDirectory("localfs_link").toString
    buildTree(stock, dir)
    val link = new Path(s"$dir/ln")
    val file = new Path(s"$dir/a/b.txt")
    val (ls, le) = (stock.getFileLinkStatus(link), engine.getFileLinkStatus(link))
    assert(le.isSymlink && ls.isSymlink)
    assert((le.getSymlink, le.getPath, shape(le)) === (ls.getSymlink, ls.getPath, shape(ls)))
    assert(engine.getLinkTarget(link) === stock.getLinkTarget(link))
    // followed, the link is its target
    assert(!engine.getFileStatus(link).isSymlink)
    assert(shape(engine.getFileStatus(link)) === shape(engine.getFileStatus(file)))
    val (fs0, fe0) = (stock.getFileLinkStatus(file), engine.getFileLinkStatus(file))
    assert(!fe0.isSymlink)
    assert((fe0.getPath, shape(fe0)) === (fs0.getPath, shape(fs0)))

    val missing = new Path(s"$dir/nope")
    for (fs <- Seq(stock, engine)) {
      intercept[FileNotFoundException](fs.getFileStatus(missing))
      intercept[FileNotFoundException](fs.getFileLinkStatus(missing))
      intercept[FileNotFoundException](fs.listStatus(missing))
      assert(!fs.exists(missing))
    }
  }

  test("rename into an existing dir nests the source exactly as stock does (commitCas' landing check)") {
    val (stock, engine) = fsPair(new Configuration())
    def outcome(fs: FileSystem, dstHasFile: Boolean): (Boolean, Seq[String]) = {
      val dir = Files.createTempDirectory("localfs_rename")
      val staging = new Path(s"$dir/v=1.staging")
      val dst     = new Path(s"$dir/v=1")
      val out     = fs.create(new Path(staging, "part-0.parquet"))
      try out.write(1) finally out.close()
      fs.mkdirs(dst)
      if (dstHasFile) fs.create(new Path(dst, "_SUCCESS")).close()
      val renamed = fs.rename(staging, dst)
      val tree = Files.walk(dir).iterator().asScala.map(p => dir.relativize(p).toString).toSeq.sorted
      (renamed, tree)
    }
    for (dstHasFile <- Seq(false, true))
      assert(outcome(engine, dstHasFile) === outcome(stock, dstHasFile), s"dstHasFile=$dstHasFile")
    // the non-empty case is the nesting commitCas treats as a lost race
    assert(outcome(engine, dstHasFile = true)._2.contains("v=1/v=1.staging/part-0.parquet"))
  }

  test("a rename onto an existing file refuses, as the registry's file: class sessions used before") {
    val conf = new Configuration()
    // without core-site.xml's registration: Hadoop's service registry
    val before = ReflectionUtils.newInstance(
      FileSystem.getFileSystemClass("file", new Configuration(false)), conf)
    before.initialize(root, conf)
    val (_, engine) = fsPair(conf)
    def outcome(fs: FileSystem): (Boolean, String) = {
      val dir = Files.createTempDirectory("localfs_cas")
      Files.write(dir.resolve("winner"), "won".getBytes("UTF-8"))
      val tmp = new Path(s"$dir/.loser.tmp")
      val out = fs.create(tmp)
      try out.write("lost".getBytes("UTF-8")) finally out.close()
      (fs.rename(tmp, new Path(s"$dir/winner")), new String(Files.readAllBytes(dir.resolve("winner")), "UTF-8"))
    }
    assert(outcome(engine) === outcome(before))
    assert(outcome(engine) === ((false, "won")))
  }

  test("sessions resolve file: to the engine's classes, for FileSystem and FileContext") {
    val spark = TestSpark.spark
    val conf  = spark.sessionState.newHadoopConf()
    assert(FileSystem.get(root, conf).isInstanceOf[ForkFreeLocalFileSystem])
    assert(FileContext.getFileContext(conf).getDefaultFileSystem.isInstanceOf[ForkFreeLocalFs])
    // the conf executors rebuild from the captured session map
    val shipped = SessionHadoopConf.toConf(SessionHadoopConf.capture())
    assert(FileContext.getFileContext(root, shipped).getDefaultFileSystem.isInstanceOf[ForkFreeLocalFs])
    assert(new Path("file:///tmp").getFileSystem(shipped).isInstanceOf[ForkFreeLocalFileSystem])
  }

  test("500 creates and 100 FileContext create-and-renames spawn no process per operation") {
    def processes(): Long =
      Files.readAllLines(Paths.get("/proc/stat")).asScala.collectFirst {
        case l if l.startsWith("processes ") => l.split(" ")(1).toLong
      }.get
    // the counter sees this JVM's children
    val before = processes()
    new ProcessBuilder("true").start().waitFor()
    assert(processes() > before)

    val conf = TestSpark.spark.sessionState.newHadoopConf()
    val fs   = FileSystem.get(root, conf)
    val fc   = FileContext.getFileContext(conf)
    def round(): Long = {
      val dir = Files.createTempDirectory("localfs_spawn").toString
      val p0  = processes()
      for (i <- 0 until 500) {
        val out = fs.create(new Path(s"file:$dir/f/part-$i"))
        try out.write(i) finally out.close()
      }
      for (i <- 0 until 100) {
        val tmp = new Path(s"file:$dir/offsets/.$i.tmp")
        val out = fc.create(tmp, EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE),
          Options.CreateOpts.createParent())
        try out.write(i) finally out.close()
        fc.rename(tmp, new Path(s"file:$dir/offsets/$i"), Options.Rename.OVERWRITE)
      }
      val spawned = processes() - p0
      assert(fs.listStatus(new Path(s"file:$dir/f")).count(!_.getPath.getName.endsWith(".crc")) === 500)
      assert(fs.listStatus(new Path(s"file:$dir/offsets")).count(!_.getPath.getName.endsWith(".crc")) === 100)
      spawned
    }
    // The counter is machine-wide, so other processes' forks only ever add
    // to a round: the least of three rounds bounds this JVM's own (stock
    // Hadoop spawns over 1,000 in every round).
    val spawned = Iterator.continually(round()).take(3).min
    assert(spawned < 50, s"$spawned processes spawned")
  }
}
