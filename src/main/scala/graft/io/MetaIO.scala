package graft.io

/** The engine's one storage boundary for everything it reads or writes
  * outside a Spark table: the SMALL metadata files (the commit records of
  * packed and IVF indexes, IVF centroids), commit probes and scratch
  * cleanup.
  * Table-shaped artifacts (postings, df, staged docs) go
  * through [[TableIO]], whose commit probe comes back here.
  *
  * The PATH picks the storage:
  *  - a scheme-less path (`/data/idx`) runs driver-local `java.nio` — the
  *    single-JVM / local-FS contract (NFS-style shared mounts satisfy it);
  *  - a path with a URI scheme (`file://`, `hdfs://`, `s3a://`, …) runs the
  *    Hadoop FileSystem API (already on the Spark classpath) through one
  *    held `Configuration`.
  * Local paths stay on `java.nio` because a Hadoop-local round-trip costs
  * orders of magnitude more per small-file write (checksum files, process-
  * spawning permission calls) than the rename it wraps.
  *
  * Contract notes:
  *  - `writeAtomic` publishes all-or-nothing: a concurrent reader sees
  *    either the previous content or the new complete content, never a
  *    partial file (the one-record commits of PackedIndex and IvfIndex
  *    depend on this).
  *    Both arms write a `.tmp` sibling and rename it over the target —
  *    atomic on POSIX and HDFS; object stores whose committers emulate
  *    rename do not give this guarantee.
  *  - cache-invalidation tokens are deliberately NOT part of this boundary:
  *    query-side caches key on record CONTENT, as a snapshot read it (see
  *    graft.query.IndexCache), because mtime/size-style tokens alias
  *    same-millisecond equal-length rewrites and silently serve stale data.
  */
object MetaIO {
  import java.nio.charset.StandardCharsets.UTF_8
  import java.nio.file.{Files, Paths, StandardCopyOption}
  import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path}

  private val Scheme = "^[A-Za-z][A-Za-z0-9+.-]+:".r

  /** True when `path` carries a URI scheme and so goes through Hadoop. */
  private def isUri(path: String): Boolean = Scheme.findPrefixOf(path).isDefined

  // FileSystem.get caches instances per (scheme, authority, user); the
  // Configuration is built once (parsing the default resources per call
  // dominated a small-file read)
  private lazy val conf = new org.apache.hadoop.conf.Configuration()
  private def fs(p: Path): FileSystem = p.getFileSystem(conf)

  def readString(path: String): String =
    if (!isUri(path)) Files.readString(Paths.get(path))
    else {
      val p = new Path(path)
      val in = fs(p).open(p)
      try new String(in.readAllBytes(), UTF_8) finally in.close()
    }

  /** All-or-nothing publish of a small text file (see the object docs). */
  def writeAtomic(path: String, content: String): Unit =
    if (!isUri(path)) {
      val p = Paths.get(path)
      val tmp = p.resolveSibling(p.getFileName.toString + ".tmp")
      Files.writeString(tmp, content)
      // a checksum the Hadoop arm left for the old content would fail every
      // later read of this file through a file:// URI; dropped before the
      // move so no reader sees the new content under the old checksum
      Files.deleteIfExists(p.resolveSibling(s".${p.getFileName}.crc"))
      Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
    } else {
      val p = new Path(path)
      val tmp = new Path(p.getParent, p.getName + ".tmp")
      val out = fs(p).create(tmp, true)
      try out.write(content.getBytes(UTF_8)) finally out.close()
      FileContext.getFileContext(p.toUri, conf)
        .rename(tmp, p, Options.Rename.OVERWRITE)
    }

  def exists(path: String): Boolean =
    if (!isUri(path)) Files.exists(Paths.get(path))
    else { val p = new Path(path); fs(p).exists(p) }

  /** Names (not paths) of entries directly under `dir`; empty when the
    * directory is absent. Hadoop's local checksum files (`.x.crc`) are not
    * listed.
    */
  def list(dir: String): Seq[String] =
    if (!isUri(dir)) {
      val names = new java.io.File(dir).list()
      if (names == null) Nil else names.toSeq
    } else {
      val p = new Path(dir)
      val f = fs(p)
      if (!f.exists(p)) Nil else f.listStatus(p).toSeq.map(_.getPath.getName)
    }

  def mkdirs(dir: String): Unit =
    if (!isUri(dir)) Files.createDirectories(Paths.get(dir))
    else { val p = new Path(dir); fs(p).mkdirs(p) }

  /** Removes a file or tree; a no-op when `path` is absent. */
  def deleteRecursively(path: String): Unit =
    if (!isUri(path)) {
      def rec(f: java.io.File): Unit = {
        if (f.isDirectory) {
          // listFiles is null when the dir vanished or turned unreadable
          // between checks (concurrent cleanup of shared staging trees)
          val children = f.listFiles
          if (children != null) children.foreach(rec)
        }
        f.delete()
      }
      rec(new java.io.File(path))
    } else {
      val p = new Path(path)
      val f = fs(p)
      if (f.exists(p)) f.delete(p, true)
    }

  /** A fresh empty driver-local scratch directory (scheme-less path). */
  def createTempDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString
}
