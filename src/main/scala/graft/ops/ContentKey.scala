package graft.ops

import org.apache.spark.sql.SparkSession

/** Content-addressed cache keys for per-dataset derived artifacts (the
  * geo lake, the IVF quantizer, the bucketed join copies): a key built
  * from every underlying file's (path, length, mtime) — recursing into
  * directories, so partitioned layouts invalidate too. Any regeneration
  * that changes a file's size, name, or mtime (at the filesystem's mtime
  * granularity — 1 s on some stores) yields a new key, so a stale
  * derivative is only possible for a byte-identical same-second rewrite.
  * One definition, shared by all cache sites.
  */
private[graft] object ContentKey {

  def md5(x: String, n: Int = 16): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(x.getBytes("UTF-8")).map(b => f"$b%02x").mkString.take(n)

  /** Persist a small derived frame (hash signatures, perceptual hashes,
    * ANN index assignments) to a content-keyed tmp table for a DuckDB
    * oracle mirror, record the path under `sub` for [[oracleFrame]], and
    * read the table back — so the downstream relational logic provably
    * consumes the very rows the oracle reads. Oracle maps embedding these
    * paths must be `def`s: Verify dumps oracle_sql.json AFTER the queries
    * ran, so the recorded path always matches the compared run.
    *
    * Write-once per dataset content: an index/signature table is built
    * once and queried many times — within a JVM the write is skipped when
    * the SAME (source content, sub) pair was already persisted (the
    * production amortization; a regenerated source changes [[of]] and
    * forces a rebuild). The frames are deterministic functions of the
    * source, so the skipped write would have produced identical bytes. */
  private val persistedKeys =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Per-key monitors for in-flight persists: `persistedKeys` records only
    * COMPLETED writes, so without this two concurrent callers of the same
    * (content, sub) key — e.g. hard_negatives and knn_graph both building
    * hn_idx inside Bench's parallel warmup — would both pass the
    * contains() check and race `mode("overwrite")` jobs onto one path,
    * each deleting the other's `_temporary` staging dir mid-commit.
    * Same-key callers serialize here (the loser then sees the key and
    * skips); distinct keys stay fully concurrent. */
  private val persistMonitors =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** The oracle-frame registry: sub-table name → the persisted-frame path
    * of the dir whose query last ran (or was last served from a content
    * cache). Sub names are unique across the op modules. */
  private val oracleFrames =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Deterministic persisted-frame location for (source dir, sub-table). */
  private def oraclePath(dir: String, sub: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_oracle/${md5(dir)}/$sub"

  def persistForOracle(s: SparkSession, dir: String, sub: String,
      df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val path = oraclePath(dir, sub)
    val key = s"${of(s, Seq(dir))}/$sub"
    if (!persistedKeys.contains(key))
      persistMonitors.computeIfAbsent(key, _ => new Object).synchronized {
        if (!persistedKeys.contains(key)) {
          // Natural partitioning, NOT coalesce(1): these frames feed heavy
          // downstream fanout (cell joins, band joins), and a single-file
          // write re-reads as a single-split scan — at 10x data that turned
          // the candidate join + partial distinct into one multi-minute task
          // while 31 cores idled. File count tracking the source scan's
          // splits is exactly how a real lake behaves; the DuckDB mirrors
          // glob ('/*.parquet'), so multi-file frames replay identically.
          df.write.mode("overwrite").parquet(path)
          persistedKeys.add(key) // only a COMPLETED write marks the key
        }
      }
    oracleFrames.put(sub, path)
    s.read.parquet(path)
  }

  /** The persisted frame a mirror reads for `sub`: the path recorded when
    * its query last ran, or an `unset` path (which fails the mirror
    * loudly) if no query persisted it in this JVM. */
  def oracleFrame(sub: String): String =
    Option(oracleFrames.get(sub)).getOrElse(
      s"${System.getProperty("java.io.tmpdir")}/graft_oracle/unset/$sub")

  /** A content-cache HIT skips the compute path's [[persistForOracle]]
    * calls, but the oracle dump must still name THIS dir's frames — the
    * registry otherwise keeps describing whichever dir ran last, and a
    * multi-dir session (dirA → dirB → dirA-hit) would dump dirA's mirrors
    * pointing at dirB's frames. Re-points `subs` at `dir`'s deterministic
    * locations; idempotent, so cache sites call it on hit and miss alike. */
  def pointOracleFrames(dir: String, subs: Seq[String]): Unit =
    subs.foreach(sub => oracleFrames.put(sub, oraclePath(dir, sub)))

  /** Content key additionally scoped to the live SparkContext
    * (applicationId + startTime — a restarted context changes both).
    * REQUIRED for any cache whose value is a session-bound DataFrame
    * (localCheckpointed frames hold block ids on the context's executors):
    * a plain content key would let a new session reading the same
    * unregenerated dir adopt a frame whose checkpoint blocks died with
    * the old context, failing only at action time. */
  def ofScoped(s: SparkSession, paths: Seq[String]): String = {
    val sc = s.sparkContext
    s"${sc.applicationId}@${sc.startTime}/${of(s, paths)}"
  }

  /** Digest of every file's (path, length, mtime) triple under the given
    * table paths. Per-file, not aggregated: summing lengths / maxing
    * mtimes would let a regeneration with identical total bytes alias to
    * the old key. Triples are sorted — listing order is not contractual
    * across filesystems. */
  def of(s: SparkSession, paths: Seq[String]): String = {
    val conf = s.sparkContext.hadoopConfiguration
    val triples = Seq.newBuilder[String]
    paths.foreach { p =>
      val path = new org.apache.hadoop.fs.Path(p)
      val it = path.getFileSystem(conf).listFiles(path, true)
      while (it.hasNext) {
        val f = it.next()
        triples += s"${f.getPath}|${f.getLen}|${f.getModificationTime}"
      }
    }
    md5(s"${paths.mkString("|")}#${triples.result().sorted.mkString("#")}")
  }

  /** Remove stale sibling key-directories of `parent` (every subdir
    * except `keep`) — called when a new content key materializes so tmp
    * holds at most one derivative per source. */
  def evictStale(parent: java.io.File, keep: String): Unit =
    Option(parent.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName != keep)
      .foreach { stale =>
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
          f.delete()
        }
        rm(stale)
      }

  // ---- derived-directory integrity manifest ----
  // _SUCCESS alone is not integrity: a tmp cleaner can delete part files
  // and leave the marker, and adopting such a dir silently drops rows.
  // After a successful write, record every data file (relative path,
  // recursive — partitioned layouts included); adoption requires the
  // marker AND every recorded file to still exist.

  private val ManifestName = ".graft_files"

  private def dataFiles(root: java.io.File): Seq[String] = {
    val base = root.toPath
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
      else Seq(f)
    walk(root).filter(_.getName.startsWith("part-"))
      .map(f => base.relativize(f.toPath).toString)
  }

  /** Record the data files currently under `root`. Call after the write
    * completes; a crash before this leaves no manifest → next reader
    * rebuilds (safe). */
  def writeManifest(root: java.io.File): Unit =
    java.nio.file.Files.write(new java.io.File(root, ManifestName).toPath,
      dataFiles(root).sorted.mkString("\n").getBytes("UTF-8"))

  /** True iff the write marker is present AND every manifest-recorded
    * data file still exists. */
  def manifestOk(root: java.io.File): Boolean = {
    val manifest = new java.io.File(root, ManifestName)
    new java.io.File(root, "_SUCCESS").exists() && manifest.exists() && {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.readAllLines(manifest.toPath).asScala
        .forall(n => new java.io.File(root, n).exists())
    }
  }

  /** Cross-process critical section for building/adopting the derived
    * dir `parent/key`: blocks on an OS advisory file lock
    * (`parent/.<key>.lock`) so two JVMs sharing a tmp/object-store path
    * cannot race a build — one writes, the other waits and then adopts
    * via the usual manifest re-check. Prefer this over an atomic-create
    * sentinel file: the OS releases a dead process's locks, so a crash
    * mid-build never wedges later builders, while a leaked sentinel
    * would. Callers MUST already hold their JVM-local monitor — file
    * locks are per-process, and an overlapping in-process attempt throws
    * rather than blocks. The lock file is metadata next to the key dir,
    * invisible to `evictStale` (which removes only directories). */
  def withDirLock[T](parent: java.io.File, key: String)(body: => T): T = {
    parent.mkdirs()
    val ch = java.nio.channels.FileChannel.open(
      new java.io.File(parent, s".$key.lock").toPath,
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.WRITE)
    try {
      val l = ch.lock()
      try body finally l.release()
    } finally ch.close()
  }

  /** JVM-local monitors for [[derivedDir]], one per source's parent dir:
    * [[withDirLock]] needs its caller to hold one. */
  private val dirMonitors =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Build or adopt the derived dir of `family` for the source `dir`:
    * `tmp/graft_<family>/<md5(dir)>/<key of sources>`, so a regenerated
    * source lands in a new key dir and its stale siblings are evicted
    * instead of accumulating. A dir whose manifest is intact is adopted
    * as-is (a warm tmp dir from an earlier JVM included); otherwise
    * `write(path)` rebuilds it and a new manifest is recorded. Returns the
    * path. */
  def derivedDir(s: SparkSession, family: String, dir: String,
      sources: Seq[String])(write: String => Unit): String = {
    val parent = new java.io.File(
      s"${System.getProperty("java.io.tmpdir")}/graft_$family/${md5(dir)}")
    val key = of(s, sources)
    val root = new java.io.File(parent, key)
    dirMonitors.computeIfAbsent(parent.getPath, _ => new Object).synchronized {
      // fast path without the cross-process lock; the authoritative
      // re-check happens under it (another JVM may finish while we wait)
      if (!manifestOk(root))
        withDirLock(parent, key) {
          if (!manifestOk(root)) { // _SUCCESS alone ≠ integrity
            evictStale(parent, key)
            write(root.toString)
            writeManifest(root)
          }
        }
    }
    root.toString
  }

  /** The standard onEvict for DataFrame-valued caches: free the
    * checkpoint's RDD blocks ([[org.apache.spark.sql.GraftSqlBridge
    * .freeLocalCheckpoint]] — `Dataset.unpersist` is a no-op for
    * localCheckpoint blocks) and say so LOUDLY. An evicted checkpoint is
    * UNRECOVERABLE (truncated lineage); the safety invariant every such
    * cache documents — no consumer holds a lazy frame across more than
    * `capacity` distinct-dataset builds — is unchecked at compile time,
    * so this line is the runtime guard: a violation surfaces as this
    * message directly above the consumer's missing-block failure,
    * instead of an unattributable block-fetch error. In the shipped
    * harnesses (one dataset dir at a time) an eviction firing AT ALL is
    * already noteworthy. */
  def freeOnEvict(tag: String): org.apache.spark.sql.DataFrame => Unit =
    df => {
      System.err.println(s"[graft] $tag: evicting a checkpointed frame " +
        "(unrecoverable) — a consumer still holding it lazily will fail " +
        "at action time")
      org.apache.spark.sql.GraftSqlBridge.freeLocalCheckpoint(df)
    }

  /** Bounded LRU for in-memory derived models (quantizer samples,
    * codebooks, bloom filters) and session-scoped DataFrames:
    * content-keyed entries for regenerated datasets would otherwise
    * accumulate for the JVM lifetime.
    *
    * Two properties matter for the DataFrame-valued caches: (1) eviction
    * runs `onEvict` on the dropped value — a localCheckpoint()ed frame's
    * blocks stay pinned on executors for the context lifetime unless
    * someone calls unpersist, so dropping the reference alone leaks the
    * blocks; (2) `compute` runs OUTSIDE the map monitor (per-key latch),
    * so a multi-second closure build for one key never serializes lookups
    * of unrelated keys. Concurrent getters of the SAME key still compute
    * once — later arrivals block on the first computer's latch. A failed
    * compute removes the key and releases waiters, who then retry with
    * their own compute. */
  final class Lru[V](max: Int, onEvict: V => Unit = (_: V) => ()) {
    private final class Cell {
      @volatile var v: Option[V] = None
      val done = new java.util.concurrent.CountDownLatch(1)
    }
    private val m = new java.util.LinkedHashMap[String, Cell](16, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[String, Cell]) = {
        // Never evict an in-flight cell: the computer would complete into
        // an orphan no future getter can reach, so onEvict could never
        // fire on its value — for DataFrame caches that leaks the
        // localCheckpoint blocks for the context lifetime. The map may
        // transiently exceed `max` (bounded by concurrent computes) until
        // the straggler completes; completed cells evict normally. This
        // is also the only removal path besides a failed compute removing
        // its own cell, so a successful compute's cell is always still
        // mapped — the value is never orphaned.
        val evict = size() > max && e.getValue.v.isDefined
        if (evict) e.getValue.v.foreach(onEvict)
        evict
      }
    }
    @annotation.tailrec
    def get(key: String)(compute: => V): V = {
      var mine = false
      val cell = m.synchronized {
        val hit = m.get(key)
        if (hit != null) hit
        else { val c = new Cell; m.put(key, c); mine = true; c }
      }
      if (mine) {
        try { val v = compute; cell.v = Some(v); v }
        catch {
          case t: Throwable =>
            m.synchronized { if (m.get(key) eq cell) m.remove(key) }
            throw t
        } finally cell.done.countDown()
      } else {
        cell.done.await()
        cell.v match {
          case Some(v) => v
          case None    => get(key)(compute) // first computer failed; retry
        }
      }
    }
  }
}
