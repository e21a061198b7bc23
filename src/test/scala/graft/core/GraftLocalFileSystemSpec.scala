package graft.core

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, LinkOption, Path => NPath}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.scalatest.funsuite.AnyFunSuite

/** [[GraftRawLocalFileSystem]] against the stock `RawLocalFileSystem`:
  * the same operations on sibling directories leave the same files,
  * `.crc` sidecars and mode bits, and the stock call's behaviour holds
  * where graft falls back to it. */
class GraftLocalFileSystemSpec extends AnyFunSuite {
  private val LocalUri = URI.create("file:///")

  /** A conf that routes `file:` to graft's or Hadoop's own classes,
    * under a umask other than the process's 022 — a mode set only by
    * the process umask cannot pass for a chmod'ed one. */
  private def conf(graft: Boolean): Configuration = {
    val c = new Configuration()
    if (graft) {
      c.set("fs.file.impl", classOf[GraftLocalFileSystem].getName)
      c.set("fs.AbstractFileSystem.file.impl", classOf[GraftLocalFs].getName)
    } else {
      c.set("fs.file.impl", classOf[org.apache.hadoop.fs.LocalFileSystem].getName)
      c.set("fs.AbstractFileSystem.file.impl", classOf[org.apache.hadoop.fs.local.LocalFs].getName)
    }
    c.set("fs.permissions.umask-mode", "027")
    c
  }

  private def mode(p: NPath): Int =
    Files.getAttribute(p, "unix:mode", LinkOption.NOFOLLOW_LINKS).asInstanceOf[Int] & 0xFFF

  /** Every entry under `root`: relative name -> (mode bits, bytes of a file). */
  private def tree(root: NPath): Map[String, (String, Seq[Byte])] = {
    val s = Files.walk(root)
    try s.iterator().asScala.filterNot(_ == root).map { p =>
      root.relativize(p).toString ->
        (Integer.toOctalString(mode(p)),
          if (Files.isRegularFile(p)) Files.readAllBytes(p).toSeq else Seq.empty[Byte])
    }.toMap
    finally s.close()
  }

  /** `body` on a graft root and on a stock root, each with a fresh
    * (uncached) `FileSystem` of its kind; both roots carry setgid, which
    * new directories inherit and a numeric chmod keeps. */
  private def onBoth(body: (FileSystem, Configuration, NPath) => Unit): (NPath, NPath) = {
    val parent = Files.createTempDirectory("graft-localfs")
    val roots = Seq(true, false).map { graft =>
      val root = parent.resolve(if (graft) "graft" else "stock")
      Files.createDirectory(root)
      Files.setAttribute(root, "unix:mode", Int.box(Integer.parseInt("2750", 8)))
      val c = conf(graft)
      val fs = FileSystem.newInstance(LocalUri, c)
      try {
        val raw = fs.asInstanceOf[org.apache.hadoop.fs.LocalFileSystem].getRaw
        assert(raw.isInstanceOf[GraftRawLocalFileSystem] == graft, raw.getClass.getName)
        body(fs, c, root)
      } finally fs.close()
      root
    }
    (roots(0), roots(1))
  }

  test("create, nested mkdirs and a FileContext createAtomic overwrite + rename leave the stock files, .crc sidecars and mode bits") {
    val (graft, stock) = onBoth { (fs, c, root) =>
      val out = fs.create(new Path(root.resolve("f.bin").toString))
      try out.write("payload".getBytes("UTF-8")) finally out.close()
      assert(fs.mkdirs(new Path(root.resolve("a/b/c").toString)))
      val ckpt = new Path(root.resolve("ckpt").toString)
      val cfm = CheckpointFileManager.create(ckpt, c)
      cfm.mkdirs(ckpt)
      Seq("v1", "v2").foreach { v =>
        val o = cfm.createAtomic(new Path(ckpt, "0"), overwriteIfPossible = true)
        try o.write(v.getBytes("UTF-8")) finally o.close()
      }
      FileContext.getFileContext(LocalUri, c)
        .rename(new Path(ckpt, "0"), new Path(ckpt, "1"), Options.Rename.NONE)
    }
    try {
      val got = tree(graft)
      assert(got == tree(stock))
      assert(got.keySet == Set("f.bin", ".f.bin.crc", "a", "a/b", "a/b/c",
        "ckpt", "ckpt/1", "ckpt/.1.crc"), got.keySet)
      // the conf's umask 027, not the process's 022: chmod took effect,
      // and the inherited setgid survived it on every new directory
      assert(got("f.bin")._1 == "640" && got("ckpt/1")._1 == "640")
      assert(Seq("a", "a/b", "a/b/c", "ckpt").forall(d => got(d)._1 == "2750"),
        got.filter(_._2._2.isEmpty))
      assert(new String(got("ckpt/1")._2.toArray, "UTF-8") == "v2")
    } finally IndexStore.deleteRecursively(graft.getParent)
  }

  test("an explicit setPermission with the sticky bit still takes effect") {
    val sticky = new FsPermission(Integer.parseInt("1777", 8).toShort)
    val (graft, stock) = onBoth { (fs, _, root) =>
      val f = new Path(root.resolve("f").toString)
      fs.create(f).close()
      fs.setPermission(f, new FsPermission(Integer.parseInt("1640", 8).toShort))
      fs.setPermission(new Path(root.toString), sticky)
    }
    try {
      assert(mode(graft) == Integer.parseInt("3777", 8), Integer.toOctalString(mode(graft)))
      assert(mode(graft) == mode(stock))
      assert(tree(graft)("f")._1 == "1640" && tree(graft) == tree(stock))
    } finally IndexStore.deleteRecursively(graft.getParent)
  }

  test("getFileLinkStatus reports a real symlink and its target; a missing path still raises") {
    val dir = Files.createTempDirectory("graft-localfs-link")
    try {
      val target = Files.write(dir.resolve("target"), "x".getBytes("UTF-8"))
      val link = Files.createSymbolicLink(dir.resolve("link"), target)
      val missing = new Path(dir.resolve("missing").toString)
      val statuses = Seq(new GraftRawLocalFileSystem, new RawLocalFileSystem).map { fs =>
        fs.initialize(LocalUri, new Configuration())
        try {
          val st = fs.getFileLinkStatus(new Path(link.toString))
          assert(st.isSymlink, s"${fs.getClass.getName}: $st")
          assert(!fs.getFileLinkStatus(new Path(target.toString)).isSymlink)
          val e = intercept[FileNotFoundException](fs.getFileLinkStatus(missing))
          (st.getSymlink, st.getPath, e.getClass)
        } finally fs.close()
      }
      assert(statuses(0) == statuses(1))
      assert(statuses(0)._1.toUri.getPath == target.toString)
    } finally IndexStore.deleteRecursively(dir)
  }
}
