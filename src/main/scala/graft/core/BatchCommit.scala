package graft.core

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.hadoop.fs.{FileSystem, Path}

/** Exactly-once commit protocol for BATCH appends to saved indexes (BM25
  * postings, IVF cells, dedup state) — the batch sibling of the streaming
  * two-phase mark in `StreamingOps.streamAppendToIndex`. Without it, a crash
  * between an append's data commit and its sidecar/stats update leaves the
  * index silently inconsistent, and re-running the append double-inserts the
  * batch.
  *
  * Protocol (all driver-side metadata ops, Hadoop FS so the same code runs
  * on local disk, HDFS, or an object store — the adoption strategy is chosen
  * by the root's FS scheme, see [[renameCapable]]):
  *
  *   1. PREFLIGHT: one aggregate over the raw caller batch ([[preflight]])
  *      yields its row count, its content-derived TOKEN (row count +
  *      order-independent id hash, so a replay of the same batch is
  *      recognizable) and how many of its ids clash with an id set the
  *      family forbids (tombstones, or ids already indexed).
  *   2. `append_mark.json` records `{token, phase, payload}`; `payload`
  *      carries the PRE-append sidecar state (e.g. BM25's n/Σdl), so a
  *      recovery never re-reads a sidecar the crashed attempt may already
  *      have advanced.
  *   3. Adoption, by scheme:
  *      - RENAME-CAPABLE FS (local, HDFS): data files are written to a
  *        staging dir, then adopted into the live tree via per-file rename
  *        under a `b<token>-` name prefix — every live file of a batch is
  *        identifiable, so recovery can DELETE a partial adoption and redo
  *        it idempotently. Readers keep reading ONE directory.
  *      - OBJECT STORE (s3a/gs/abfs/…, where "rename" is a byte copy and
  *        not atomic): MANIFEST COMMIT. The batch writes ONCE to its
  *        permanent home `<liveSubdir>_batches/<token>/` — no data file is
  *        ever renamed or copied — then a `manifest_<token>.json` listing
  *        the batch's files is PUT for audit/GC, and the `done` mark is the
  *        atomic commit point (single-object PUT). Recovery deletes the
  *        batch dir and redoes it. Readers resolve live + committed batch
  *        dirs via [[dataPaths]]/[[readData]].
  *   4. `done` mark last. The REPLAY RULE, one for every family: an empty
  *      batch is a no-op and writes no mark; a batch whose token the `done`
  *      mark names is a no-op (its ids clash by now: it indexed them, and
  *      some may since have been deleted); a batch whose token the
  *      dangling `begin` names resumes, converging to the clean result
  *      after a crash anywhere (the index may hold a partial prefix of it,
  *      so clashes are expected); only a FRESH batch is refused on a
  *      clash, before its begin mark. A DIFFERENT batch (or a reader) over
  *      a dangling `begin` refuses loudly with recovery instructions.
  *
  * Concurrency: the mark also serializes writers — a second concurrent
  * append sees the first's `begin` and refuses. This is crash detection,
  * not a lock: two appends racing the first mark write can interleave;
  * growing one index from multiple uncoordinated writers is unsupported
  * (same as the streaming path's single-lineage rule).
  */
object BatchCommit {

  val markFile = "append_mark.json"

  /** One append attempt's durable record: `done=false` is a dangling begin —
    * the crash window where live data may hold any prefix of the batch.
    */
  final case class Mark(token: String, done: Boolean, payload: Map[String, Double])

  private def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Object-store schemes where a "rename" is a server-side byte copy +
    * delete (O(data), not atomic) — adoption there must never move a data
    * file. `mockfs` is the test scheme for the rename-less contract.
    */
  private val objectStoreSchemes = Set(
    "s3", "s3a", "s3n", "gs", "abfs", "abfss", "wasb", "wasbs", "oss",
    "cos", "cosn", "swift", "mockfs")

  private[graft] def renameCapable(scheme: String): Boolean =
    scheme == null || !objectStoreSchemes.contains(scheme.toLowerCase(java.util.Locale.ROOT))

  private def renameCapable(spark: SparkSession, root: String): Boolean =
    renameCapable(fsOf(spark, new Path(root)).getUri.getScheme)

  private def batchesDir(root: String, liveSubdir: String): Path =
    new Path(root, s"${liveSubdir}_batches")

  /** Every directory a reader must scan for `liveSubdir`'s data: the live
    * tree plus (manifest-commit mode) each committed batch dir. A dangling
    * `begin` batch dir is excluded — its data is uncommitted (readers are
    * expected to [[requireClean]] first; the append path itself reads the
    * index mid-recovery, when the dangling dir may hold a partial batch).
    * On a rename-capable FS this is always just the live dir — identical
    * plans to the pre-manifest layout.
    */
  def dataPaths(spark: SparkSession, root: String, liveSubdir: String): Seq[String] = {
    val live = new Path(root, liveSubdir)
    val bd = batchesDir(root, liveSubdir)
    val f = fsOf(spark, live)
    val dangling = readMark(spark, root).filter(!_.done).map(_.token)
    val batchDirs =
      if (!f.exists(bd)) Seq.empty
      else f.listStatus(bd).toSeq.filter(_.isDirectory).map(_.getPath)
        .filterNot(p => dangling.contains(p.getName))
        .sortBy(_.getName)
    (Seq(live).filter(f.exists) ++ batchDirs).map(_.toString)
  }

  /** The index's data as one DataFrame — a single-directory read on a
    * rename-capable FS, a unionByName over live + committed batch dirs in
    * manifest mode (partition-column discovery and pruning apply per
    * sub-path; schemas are append-compatible by protocol).
    */
  def readData(spark: SparkSession, root: String, liveSubdir: String): DataFrame = {
    val paths = dataPaths(spark, root, liveSubdir)
    require(paths.nonEmpty,
      s"BatchCommit.readData: no data at $root/$liveSubdir")
    paths.map(spark.read.parquet(_)).reduce(_.unionByName(_))
  }

  /** One append's preflight: the batch's row count, its content token,
    * how many of its rows carry an id of the clash set, and the caller's
    * extra aggregates (in the order given).
    */
  final case class Preflight(rows: Long, token: String, clashes: Long, extra: Row)

  /** The append preflight in ONE aggregate over the RAW caller batch (not an
    * index-dependent filter of it, or recovery replays would mis-token):
    * the filesystem-safe token `<hex XOR of xxhash64(id)>n<row count>` —
    * order- and partitioning-independent and overflow-free under ANSI mode,
    * so the same batch yields the same token on every replay attempt — plus the number of rows whose id is in
    * `clashIds` (a one-column id set, compared in its type). The left join
    * against the DISTINCT set keeps exactly one row per batch row, so the
    * count, the token and `extra` (aggregates over `batch`'s columns) are
    * those of the batch itself.
    */
  def preflight(batch: DataFrame, idCol: String, clashIds: Option[DataFrame],
      extra: Column*): Preflight = {
    val hashed = batch.withColumn("__h", xxhash64(col(idCol).cast("string")))
    val (joined, clashes) = clashIds match {
      case Some(ids) =>
        val f = ids.schema.head
        (hashed.join(ids.select(col(f.name).as("__cid")).distinct(),
          col(idCol).cast(f.dataType) === col("__cid"), "left"),
          count(col("__cid")))
      case None => (hashed, lit(0L))
    }
    val r = joined.agg(count(lit(1)), expr("bit_xor(__h)") +: clashes +: extra: _*)
      .head()
    val idHash = if (r.isNullAt(1)) 0L else r.getLong(1)
    Preflight(r.getLong(0), java.lang.Long.toHexString(idHash) + "n" + r.getLong(0),
      r.getLong(2), Row.fromSeq(r.toSeq.drop(3)))
  }

  // ------------------------------------------------------------------
  // Tombstones — the shared deletion protocol of the durable indexes
  // (IvfIndex, LexIndex): a delete batch is a content-token-named
  // directory of distinct ids, so replaying a crashed delete OVERWRITES
  // itself and converges; readers subtract the union of all batches.
  // ------------------------------------------------------------------

  private val tombSubdir = "tombstones"

  def tombstonesPath(root: String): String = s"$root/$tombSubdir"

  /** Record `df`'s distinct `idCol` values as a tombstone batch under
    * `root`. Idempotent (content-token directory name). Returns the
    * number of distinct ids tombstoned.
    */
  def writeTombstones(df: DataFrame, idCol: String, root: String): Long = {
    val ids = df.select(col(idCol)).distinct()
    val pre = preflight(ids, idCol, None)
    ids.coalesce(1).write.mode("overwrite")
      .parquet(s"${tombstonesPath(root)}/batch_${pre.token}")
    pre.rows
  }

  /** All tombstoned ids under `root` (one column, the original idCol
    * name), or None when no delete has ever run.
    */
  def readTombstones(spark: SparkSession, root: String): Option[DataFrame] = {
    val dir = tombstonesPath(root)
    if (!MetaIo.exists(spark, dir)) None
    else Some(spark.read.option("recursiveFileLookup", "true").parquet(dir))
  }

  /** Subtract tombstones from an index frame (no-op when none exist). */
  def subtractTombstones(spark: SparkSession, root: String,
      data: DataFrame): DataFrame =
    readTombstones(spark, root) match {
      case Some(t) =>
        val idName = t.schema.fieldNames.head
        data.join(t.select(idName).distinct(), Seq(idName), "left_anti")
      case None => data
    }

  /** The refusal of a fresh append holding tombstoned ids — the
    * reader-side anti-join would silently swallow the new rows.
    */
  def tombstonedRefusal(what: String, root: String): String =
    s"$what: batch contains tombstoned ids — compact the index at $root " +
      "first (a tombstone shadows its id)"

  def readMark(spark: SparkSession, root: String): Option[Mark] = {
    val p = new Path(root, markFile)
    if (!fsOf(spark, p).exists(p)) None
    else {
      val node = MetaIo.parse(MetaIo.read(spark, p.toString))
      val payload = scala.collection.mutable.Map.empty[String, Double]
      val fields = node.path("payload").fields()
      while (fields.hasNext) {
        val e = fields.next()
        payload += e.getKey -> e.getValue.doubleValue()
      }
      Some(Mark(node.path("token").asText(),
        node.path("phase").asText() == "done", payload.toMap))
    }
  }

  /** Atomic mark transition. Rename-capable FS: temp + rename
    * (LocalFileSystem/HDFS renames replace atomically; a reader never sees
    * a torn mark). Object store: a direct single-object PUT — itself atomic
    * there (readers see the old object or the new one, never bytes of
    * both), and the tmp+rename dance would be the non-atomic copy.
    */
  private[graft] def writeMark(spark: SparkSession, root: String, token: String,
      done: Boolean, payload: Map[String, Double]): Unit = {
    val phase = if (done) "done" else "begin"
    val body = payload.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    val json = s"""{"token":"$token","phase":"$phase","payload":$body}"""
    val mark = new Path(root, markFile)
    if (!renameCapable(spark, root)) {
      MetaIo.write(spark, mark.toString, json)
      return
    }
    val tmp = new Path(root, markFile + ".tmp")
    MetaIo.write(spark, tmp.toString, json)
    val f = fsOf(spark, mark)
    if (!f.rename(tmp, mark)) {
      // RawLocalFileSystem renames over an existing file; FSes that refuse
      // need the delete first (non-atomic window: mark briefly absent, which
      // reads as "clean" — the data files are still consistent then).
      f.delete(mark, false)
      require(f.rename(tmp, mark), s"BatchCommit: cannot move $tmp to $mark")
    }
  }

  /** Rebuild entry points call this: a full overwrite supersedes any
    * interrupted append, so the dangling state must not outlive it — nor
    * may manifest-mode batch dirs, which live BESIDE the live tree and
    * would otherwise survive the overwrite and re-union stale data.
    */
  def clearMark(spark: SparkSession, root: String): Unit = {
    MetaIo.delete(spark, new Path(root, markFile).toString)
    val rootPath = new Path(root)
    val f = fsOf(spark, rootPath)
    if (f.exists(rootPath))
      f.listStatus(rootPath).toSeq
        .filter(st => st.isDirectory && st.getPath.getName.endsWith("_batches"))
        .foreach(st => f.delete(st.getPath, true))
    f.globStatus(new Path(rootPath, "manifest_*.json")) match {
      case null => ()
      case ms => ms.foreach(m => f.delete(m.getPath, false))
    }
  }

  /** Readers refuse an index with a dangling begin — BM25 stats could be
    * stale by the interrupted batch, cells/docs could hold a partial batch.
    */
  def requireClean(spark: SparkSession, root: String, what: String): Unit =
    readMark(spark, root).filter(!_.done).foreach { m =>
      throw new IllegalStateException(
        s"$what at $root has an interrupted append (batch ${m.token}): " +
          "re-run the same append batch to recover exactly-once, or rebuild " +
          "the index with save()")
    }

  /** Recursive file listing, MATERIALIZED before the caller mutates the
    * tree — renaming/deleting under a live RemoteIterator is undefined on
    * some Hadoop filesystems.
    */
  private def listAll(f: FileSystem, dir: Path): Seq[Path] = {
    val out = Seq.newBuilder[Path]
    val it = f.listFiles(dir, true)
    while (it.hasNext) {
      val st = it.next()
      if (st.isFile) out += st.getPath
    }
    out.result()
  }

  /** Delete live files left by an earlier partial adoption of this batch. */
  private def deletePrefixed(spark: SparkSession, live: Path, prefix: String): Unit = {
    val f = fsOf(spark, live)
    if (f.exists(live))
      listAll(f, live).filter(_.getName.startsWith(prefix))
        .foreach(p => f.delete(p, false))
  }

  /** Move staged data files into the live tree, preserving partition
    * subdirectories (`bucket=3/part-x.parquet` stays under `bucket=3/`),
    * under the batch's name prefix. Underscore/dot files (_SUCCESS, .crc)
    * stay behind and are deleted with the staging dir.
    */
  private def adoptStaged(spark: SparkSession, staging: Path, live: Path,
      prefix: String): Unit = {
    val f = fsOf(spark, staging)
    if (!f.exists(staging)) return
    val stagingRoot = staging.toUri.getPath.stripSuffix("/")
    listAll(f, staging).foreach { p =>
      val name = p.getName
      if (!name.startsWith("_") && !name.startsWith(".")) {
        val rel = p.toUri.getPath.stripPrefix(stagingRoot).stripPrefix("/")
        val relDir = rel.lastIndexOf('/') match {
          case -1 => ""
          case i  => rel.substring(0, i)
        }
        val destDir = if (relDir.isEmpty) live else new Path(live, relDir)
        f.mkdirs(destDir)
        val dest = new Path(destDir, prefix + name)
        require(f.rename(p, dest),
          s"BatchCommit: cannot adopt staged file $p as $dest")
      }
    }
  }

  val leaseFile = "_writer.lock"

  /** Exclusive writer lease over an index root — the guard against TWO
    * writers appending DIFFERENT batches concurrently (double-launched
    * scheduler jobs): the mark protocol serializes replays of the SAME
    * batch, but two writers racing `readMark` before either's begin-mark
    * lands would interleave staging and adoption. Acquisition is an atomic
    * create (`FileSystem.create(overwrite = false)` — atomic on HDFS/
    * local; a conditional PUT on object stores); the loser fails fast with
    * the holder named. A lease older than `ttlMs` is STALE (its holder
    * crashed) and is broken — a crashed writer must not wedge the index
    * forever; the mark protocol then recovers its partial batch.
    */
  val defaultLeaseTtlMs: Long = 15L * 60 * 1000

  /** Handle on a HELD lease. `verifyOwned()` re-reads the lease file and
    * throws if another holder has taken it (possible only if this writer
    * stalled past the TTL — e.g. a long GC pause — and a waiter broke the
    * lease as stale). Called immediately before the adoption step, it
    * shrinks the lost-lease/concurrent-adoption window to a single read.
    */
  final class LeaseHandle private[core] (read: () => String, holder: String) {
    def verifyOwned(): Unit = {
      val txt = read()
      if (!txt.contains(s""""holder":"$holder""""))
        throw new IllegalStateException(
          s"writer lease lost before commit (holder $holder, lease now " +
            s"[$txt]): this writer stalled past the lease TTL and a second " +
            "writer broke the lease — aborting before adoption to avoid " +
            "interleaving with its append")
    }
  }

  def withWriterLease[T](spark: SparkSession, root: String,
      holder: String = java.util.UUID.randomUUID().toString,
      ttlMs: Long = defaultLeaseTtlMs)(body: => T): T =
    withWriterLeaseHandle(spark, root, holder, ttlMs)(_ => body)

  def withWriterLeaseHandle[T](spark: SparkSession, root: String,
      holder: String = java.util.UUID.randomUUID().toString,
      ttlMs: Long = defaultLeaseTtlMs)(body: LeaseHandle => T): T = {
    val lock = new Path(root, leaseFile)
    val f = fsOf(spark, lock)
    def readLease(): String =
      try {
        val in = f.open(lock)
        try {
          val buf = new java.io.ByteArrayOutputStream()
          val tmp = new Array[Byte](256)
          var n = in.read(tmp)
          while (n > 0) { buf.write(tmp, 0, n); n = in.read(tmp) }
          new String(buf.toByteArray, java.nio.charset.StandardCharsets.UTF_8)
        } finally in.close()
      } catch { case _: java.io.IOException => "" }
    def tryAcquire(): Boolean =
      try {
        val out = f.create(lock, false)
        try out.write(s"""{"holder":"$holder","ts":${System.currentTimeMillis}}"""
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        finally out.close()
        true
      } catch { case _: java.io.IOException => false }
    // Releases and stale-breaks are OWNERSHIP-CHECKED: an unconditional
    // delete could remove ANOTHER writer's live lease (a holder finishing
    // after its own TTL expired would release its successor's lock; two
    // waiters observing one stale lease would free each other). The
    // remaining read→delete window is the irreducible gap of a filesystem
    // without compare-and-delete — document, don't pretend otherwise.
    def deleteIfContentIs(expected: String): Unit =
      if (readLease() == expected) f.delete(lock, false)
    def leaseTs(txt: String): Option[Long] =
      """"ts":(\d+)""".r.findFirstMatchIn(txt).map(_.group(1).toLong)
    def leaseHolder(txt: String): Option[String] =
      """"holder":"([^"]+)"""".r.findFirstMatchIn(txt).map(_.group(1))
    // Liveness is extended through a HOLDER-SUFFIXED heartbeat sidecar, not
    // by rewriting the lock: the lock file is written exactly once at
    // acquisition and deleted at release, so a reader can never observe it
    // torn mid-renewal, and there is no delete+rename window in which a
    // second writer's create(lock, false) could succeed against a live
    // holder (HDFS/S3A rename refuses an existing destination, which would
    // force exactly that fallback every renewal period).
    def hbPath(h: String) = new Path(root, s"$leaseFile.hb.$h")
    // Newest liveness signal for the holder named in the lock: the
    // heartbeat's content ts, falling back to the heartbeat FILE's mtime
    // when a read catches it torn (mtime tracks the write that tore it).
    def heartbeatTs(h: String): Option[Long] = {
      val p = hbPath(h)
      // Read to EOF (a single read() can return a short prefix) and only
      // trust the parsed ts when the JSON is COMPLETE (ends with '}'): a
      // truncated-but-parsable prefix like `"ts":17236` would decode as an
      // ancient timestamp and let a waiter break a live holder's lease.
      // Torn or partial content → the file's mtime (which tracks the very
      // write that tore it) is the honest liveness signal.
      val content =
        try {
          val in = f.open(p)
          try {
            val buf = new java.io.ByteArrayOutputStream()
            val tmp = new Array[Byte](256)
            var n = in.read(tmp)
            while (n > 0) { buf.write(tmp, 0, n); n = in.read(tmp) }
            val txt =
              new String(buf.toByteArray, java.nio.charset.StandardCharsets.UTF_8)
            if (txt.trim.endsWith("}")) leaseTs(txt) else None
          } finally in.close()
        } catch { case _: java.io.IOException => None }
      content.orElse(
        try Some(f.getFileStatus(p).getModificationTime)
        catch { case _: java.io.IOException => None })
    }
    // Stale judgment must never default an UNREADABLE lease to stale: an
    // empty/partial read can mean a lease caught mid-write, and breaking
    // it would admit the concurrent append the lease exists to prevent.
    // Unparsable content → re-read a few times (a torn write resolves in
    // ms); still unparsable but the file EXISTS → judge by the file's
    // modification time; file GONE → the holder released between our
    // create-fail and read — retry the acquire. A parsable lease is live
    // while EITHER its own ts or its holder's heartbeat is within the TTL.
    if (!tryAcquire()) {
      var txt = readLease()
      var ts = leaseTs(txt)
      var retries = 0
      while (ts.isEmpty && retries < 5 && f.exists(lock)) {
        Thread.sleep(50); txt = readLease(); ts = leaseTs(txt); retries += 1
      }
      val now = System.currentTimeMillis
      val liveTs = ts match {
        case Some(t) =>
          Some((Seq(t) ++ leaseHolder(txt).flatMap(heartbeatTs)).max)
        case None =>
          try Some(f.getFileStatus(lock).getModificationTime)
          catch { case _: java.io.IOException => None } // gone → retry acquire below
      }
      val stale = liveTs.forall(t => now - t > ttlMs)
      if (!stale) throw new IllegalStateException(
        s"append to $root: another writer holds the lease ($txt) — " +
          "a concurrent append would interleave staging and adoption; " +
          "wait for it (or for the lease TTL if it crashed)")
      deleteIfContentIs(txt) // break the stale lease iff it is still the one we judged
      // Sweep the crashed holder's heartbeat so it cannot vouch for a
      // future lease that happens to reuse the same holder id.
      leaseHolder(txt).foreach(h =>
        try f.delete(hbPath(h), false)
        catch { case _: java.io.IOException => () })
      if (!tryAcquire()) throw new IllegalStateException(
        s"append to $root: lost the race re-acquiring a stale lease")
    }
    // Renewal: a LIVE append running longer than ttlMs must not be judged
    // stale by a waiting second writer (which would break the lease and
    // append concurrently — exactly the interleaving the lease prevents).
    // A daemon thread refreshes the timestamp every ttlMs/3 for as long as
    // the body runs; only a writer that STOPS renewing (crashed, or paused
    // longer than the TTL) can be broken, and that case is caught by
    // `verifyOwned()` at the adoption step.
    @volatile var released = false
    // Renewal NEVER touches the lock: it overwrites only this holder's own
    // heartbeat sidecar. The only writer of that file is this renewer
    // thread, so the create(overwrite) truncation can race nothing but a
    // waiter's read — and a torn heartbeat read falls back to the file's
    // mtime, which the very write that tore it keeps fresh. A heartbeat
    // written after the lock was broken as stale cannot resurrect the
    // lease (waiters only consult the heartbeat of the holder the LOCK
    // names, and the break path sweeps the broken holder's heartbeat);
    // verifyOwned() before adoption remains the backstop for a writer
    // stalled past its TTL.
    def renew(): Unit =
      if (!released && readLease().contains(s""""holder":"$holder""""))
        try {
          val out = f.create(hbPath(holder), true)
          try out.write(
            s"""{"holder":"$holder","ts":${System.currentTimeMillis}}"""
              .getBytes(java.nio.charset.StandardCharsets.UTF_8))
          finally out.close()
        } catch { case _: java.io.IOException => () }
    val renewEveryMs = math.max(50L, ttlMs / 3)
    val renewer = new Thread(() => {
      try {
        while (!released) {
          Thread.sleep(renewEveryMs)
          if (!released) renew()
        }
      } catch { case _: InterruptedException => () }
    }, s"graft-lease-renew-$holder")
    renewer.setDaemon(true)
    renewer.start()
    try body(new LeaseHandle(() => readLease(), holder))
    finally {
      released = true
      renewer.interrupt()
      renewer.join(2000)
      // Sweep our own heartbeat; it is ours by construction (the name
      // carries the holder id). Best-effort — an orphan heartbeat is
      // harmless (waiters only consult it while a lock names its holder,
      // and the stale-break path sweeps it), just litter.
      try f.delete(hbPath(holder), false)
      catch { case _: java.io.IOException => () }
      // Release only our own lease: if it expired mid-append and a
      // successor broke it, theirs must survive.
      if (readLease().contains(s""""holder":"$holder""""))
        f.delete(lock, false)
    }
  }

  /** Run one exactly-once append. Returns false when the mark shows this
    * exact batch already committed (idempotent replay — nothing to do).
    *
    *   - `sidecarState`: pre-append sidecar values to pin in the begin mark
    *     (evaluated only on a FRESH attempt; recovery reuses the mark's).
    *   - `writeStaged(dir)`: write the batch's data files under `dir` with
    *     mode("overwrite"). Any index reads inside it (e.g. an id anti-join)
    *     must build their plan INSIDE the closure — it runs after recovery
    *     cleanup, so it sees the index without the partial batch.
    *   - `updateSidecar(payload)`: atomically move the sidecar to
    *     payload + this batch, AFTER the data adoption.
    */
  def appendExactlyOnce(spark: SparkSession, root: String, liveSubdir: String,
      token: String, sidecarState: => Map[String, Double],
      writeStaged: String => Unit,
      updateSidecar: Map[String, Double] => Unit,
      leaseHolder: String = java.util.UUID.randomUUID().toString,
      leaseTtlMs: Long = defaultLeaseTtlMs): Boolean =
    withWriterLeaseHandle(spark, root, leaseHolder, leaseTtlMs) { lease =>
      appendExactlyOnceUnlocked(spark, root, liveSubdir, token, sidecarState,
        writeStaged, updateSidecar, lease)
    }

  /** Run one exactly-once append of a [[preflight]]ed batch under the
    * replay rule (protocol step 4): false for an empty batch (no mark is
    * written) and for a replay of the committed batch; a dangling begin of
    * the same token resumes; a FRESH batch with clashing ids is refused
    * with `clashRefusal` — `sidecarState` is evaluated only on a fresh
    * attempt, before its begin mark, so the refusal mutates nothing.
    */
  def appendExactlyOnce(spark: SparkSession, root: String, liveSubdir: String,
      batch: Preflight, clashRefusal: => String,
      sidecarState: => Map[String, Double],
      writeStaged: String => Unit,
      updateSidecar: Map[String, Double] => Unit): Boolean =
    batch.rows > 0L && appendExactlyOnce(spark, root, liveSubdir, batch.token,
      sidecarState = { require(batch.clashes == 0L, clashRefusal); sidecarState },
      writeStaged = writeStaged, updateSidecar = updateSidecar)

  private def appendExactlyOnceUnlocked(spark: SparkSession, root: String,
      liveSubdir: String,
      token: String, sidecarState: => Map[String, Double],
      writeStaged: String => Unit,
      updateSidecar: Map[String, Double] => Unit,
      lease: LeaseHandle): Boolean = {
    val prior = readMark(spark, root)
    prior match {
      case Some(m) if m.done && m.token == token =>
        false // this batch is fully committed — at-least-once replay, skip
      case Some(m) if !m.done && m.token != token =>
        throw new IllegalStateException(
          s"append to $root: interrupted append of batch ${m.token} detected " +
            s"while committing batch $token — re-run the interrupted batch " +
            "first (its replay recovers exactly-once), or rebuild with save()")
      case _ =>
        val resuming = prior.exists(m => !m.done && m.token == token)
        val payload =
          if (resuming) prior.get.payload
          else {
            val p = sidecarState
            writeMark(spark, root, token, done = false, p)
            p
          }
        if (renameCapable(spark, root)) {
          // Rename adoption: stage, then per-file rename into the live tree.
          val live = new Path(root, liveSubdir)
          val prefix = s"b$token-"
          deletePrefixed(spark, live, prefix)
          val staging = new Path(root, s"staging_$token")
          val f = fsOf(spark, staging)
          if (f.exists(staging)) f.delete(staging, true)
          writeStaged(staging.toString)
          lease.verifyOwned() // staging may have run long; abort if broken as stale
          adoptStaged(spark, staging, live, prefix)
          f.delete(staging, true)
        } else {
          // Manifest commit: the batch dir IS the permanent home — written
          // once, never renamed (an object-store rename is a byte copy).
          // Recovery from a partial attempt is a recursive delete of the
          // batch dir; the manifest records the committed file set for
          // audit and orphan GC; the done mark below is the commit point.
          val batchDir = new Path(batchesDir(root, liveSubdir), token)
          val f = fsOf(spark, batchDir)
          if (f.exists(batchDir)) f.delete(batchDir, true)
          writeStaged(batchDir.toString)
          lease.verifyOwned() // same guard before the manifest/commit point
          val files =
            if (f.exists(batchDir))
              listAll(f, batchDir).map(_.getName)
                .filterNot(n => n.startsWith("_") || n.startsWith("."))
                .sorted
            else Seq.empty
          MetaIo.write(spark, new Path(root, s"manifest_$token.json").toString,
            files.map(Jsons.str).mkString(
              s"""{"token":"${token}","dir":"${liveSubdir}_batches/$token","files":[""",
              ",", "]}"))
        }
        updateSidecar(payload)
        writeMark(spark, root, token, done = true, payload)
        true
    }
  }
}
