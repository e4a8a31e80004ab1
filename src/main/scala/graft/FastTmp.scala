package graft

import java.nio.file.{Files, LinkOption, Path, Paths}

/** Point scratch space at tmpfs when available.
  *
  * Everything ephemeral this engine writes — temporary streaming checkpoints
  * (offset/commit logs + state-store deltas, fsync'd per micro-batch),
  * shuffle files, and the per-JVM engine-fixture warehouse — defaults to
  * `java.io.tmpdir` (= `/tmp`, disk-backed here). On a box with a tmpfs at
  * `/dev/shm` these are pure fixed-cost I/O with no durability requirement,
  * so redirect them to memory. A production cluster makes the same choice
  * explicitly (local SSD/ramdisk for `spark.local.dir`, object store only
  * for durable checkpoints).
  */
object FastTmp {

  /** The scratch root actually chosen (tmpfs when possible, else default).
    * A tmpfs root holds nothing but this JVM's scratch, so it is deleted
    * whole when the JVM exits.
    */
  lazy val dir: String = {
    val shm = Paths.get("/dev/shm")
    try {
      if (Files.isDirectory(shm) && Files.isWritable(shm)) {
        val d = Files.createDirectory(shm.resolve(
          s"graft-tmp-${ProcessHandle.current().pid()}-${System.nanoTime()}"))
        Runtime.getRuntime.addShutdownHook(new Thread(() => deleteTree(d)))
        System.setProperty("java.io.tmpdir", d.toString)
        d.toString
      } else System.getProperty("java.io.tmpdir")
    } catch { case _: Exception => System.getProperty("java.io.tmpdir") }
  }

  /** A fresh temp dir under `java.io.tmpdir` as it is NOW. The JDK's
    * `Files.createTempDirectory(prefix)` keeps using the value the JVM
    * started with, so it would never reach the root [[dir]] chooses.
    */
  def newDir(prefix: String): Path =
    Files.createTempDirectory(Paths.get(System.getProperty("java.io.tmpdir")), prefix)

  /** Best effort, never following a symlink (a scratch dir may link to
    * input data), and going on past entries that vanish or resist.
    */
  private def deleteTree(p: Path): Unit = {
    if (Files.isDirectory(p, LinkOption.NOFOLLOW_LINKS))
      Option(p.toFile.listFiles()).foreach(_.foreach(f => deleteTree(f.toPath)))
    try { Files.deleteIfExists(p); () } catch { case _: Exception => () }
  }
}
