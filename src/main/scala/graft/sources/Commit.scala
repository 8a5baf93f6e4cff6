package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

import graft.sources.Manifest.Entry

/** The snapshot lake's commit protocol: how a version becomes visible,
  * exactly once, under any number of concurrent writers.
  *
  *  - **Claim.** A writer reads the current version `cur` and claims
  *    `cur+1` by atomically creating its claim file (local FS:
  *    O_CREAT|O_EXCL; HDFS-likes: a no-overwrite create; an object store
  *    substitutes a conditional put). A claim at `cur+1` can only be won
  *    while `cur` is published, so every commit builds on the latest
  *    committed state. Claims persist after publish: deleting one would
  *    let a straggler holding a stale `cur` re-claim a published version.
  *  - **Publish.** The manifest is written to a temporary file and made
  *    visible by one atomic no-clobber step (a hard link on local FS, a
  *    rename that refuses an existing destination elsewhere): the only
  *    visibility switch. A writer that loses the claim backs off and
  *    retries on the new current version, reusing its commit-private
  *    data files.
  *  - **Lease.** A claim observed unchanged (same version, same owner
  *    bytes) for a full lease (`spark.graft.snapshots.claimLeaseMs`,
  *    default 30 s) by a competitor's own monotonic clock, with no
  *    manifest, belongs to a crashed writer: the competitor breaks it by
  *    an atomic rename to a tombstone (exactly one breaker wins) and
  *    re-claims. No file system timestamp enters the decision, so clock
  *    skew can never make a fresh claim look expired.
  *  - **Fencing.** A writer paused past its lease that wakes after a
  *    competitor published its version fails the no-clobber publish,
  *    having made nothing visible, and rebases: it re-reads the current
  *    version, re-claims and rebuilds on the fresh entries. Every commit
  *    therefore lands exactly once, at some version, in claim order.
  *  - **Exactly once** ([[publishAdding]] with a transaction id): the id
  *    is a `T` entry of the very version that adds the files, so a
  *    replay is recognised with no crash window. */
private[graft] object Commit {

  private def uuid8 = java.util.UUID.randomUUID.toString.take(8)

  /** A fresh commit-private directory name under `root/sub`. */
  def privateDir(root: String, sub: String): String = s"$root/$sub/c-$uuid8"

  /** The fence fired: a competitor published this version first (only
    * possible after a lease takeover). Nothing of the loser became
    * visible; [[publish]] rebases. */
  private final class CommitLostException(v: Long) extends RuntimeException(
    s"version $v was published by a competitor after a lease takeover")

  /** The atomic no-clobber publish of version `v`'s manifest. */
  private def writeManifest(spark: SparkSession, root: String, v: Long,
      lines: Seq[String]): Unit = {
    val mp = Manifest.path(root, v)
    val tmp = new Path(mp.toString + ".tmp-" + uuid8)
    val f = Manifest.fs(spark, mp)
    f.mkdirs(mp.getParent)
    val out = f.create(tmp, true)
    try out.write((lines.mkString("\n") + "\n").getBytes("UTF-8"))
    finally out.close()
    // POSIX rename overwrites, so on the `file` scheme the publish is a
    // hard link, which fails if the destination exists and lands only
    // fully written content. HDFS's rename refuses an existing
    // destination file, so the fence holds there too.
    if (f.getUri.getScheme == "file") {
      val dst = java.nio.file.Paths.get(mp.toUri.getPath)
      val src = java.nio.file.Paths.get(tmp.toUri.getPath)
      try java.nio.file.Files.createLink(dst, src)
      catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          f.delete(tmp, false)
          throw new CommitLostException(v)
      }
      f.delete(tmp, false)
    } else {
      if (f.exists(mp)) throw new CommitLostException(v)
      if (!f.rename(tmp, mp)) throw new CommitLostException(v)
    }
  }

  /** Atomically claim version `v`, writing `owner` in the exclusive
    * create itself, so a winner never later overwrites a claim that was
    * broken and re-claimed in between. */
  private def tryClaim(spark: SparkSession, root: String, v: Long,
      owner: String): Boolean = {
    val cp = Manifest.claimPath(root, v)
    val f = Manifest.fs(spark, cp)
    f.mkdirs(cp.getParent)
    if (f.getUri.getScheme == "file")
      try {
        java.nio.file.Files.write(
          java.nio.file.Paths.get(cp.toUri.getPath),
          owner.getBytes("UTF-8"),
          java.nio.file.StandardOpenOption.CREATE_NEW,
          java.nio.file.StandardOpenOption.WRITE)
        true
      } catch { case _: java.io.IOException => false }
    else
      try {
        val out = f.create(cp, false)
        try out.write(owner.getBytes("UTF-8")) finally out.close()
        true
      } catch { case _: java.io.IOException => false }
  }

  /** The identity a claim was created with, or None if unreadable. */
  private def claimOwner(spark: SparkSession, cp: Path): Option[String] = {
    val f = Manifest.fs(spark, cp)
    try {
      val in = f.open(cp)
      try Some(new String(in.readAllBytes(), "UTF-8")) finally in.close()
    } catch { case _: java.io.IOException => None }
  }

  /** Break a claim by atomically renaming it to a tombstone: of N
    * concurrent breakers exactly one succeeds, and a fresh claim made
    * after the break is never removed by a straggler. Tombstones are
    * reclaimed by `Snapshots.vacuum`. */
  private def breakClaim(spark: SparkSession, root: String, v: Long): Boolean = {
    val cp = Manifest.claimPath(root, v)
    val tomb = cp.suffix(s".broken-$uuid8")
    try Manifest.fs(spark, cp).rename(cp, tomb)
    catch { case _: java.io.IOException => false }
  }

  private def leaseMs(spark: SparkSession): Long =
    spark.conf.getOption("spark.graft.snapshots.claimLeaseMs")
      .map(_.toLong).getOrElse(30000L)

  /** How long [[publish]] keeps retrying: max(60 s, 2 × lease),
    * saturating. Always more than a lease, so a crashed writer's claim
    * can be broken within the budget whatever the lease. */
  def publishDeadlineMs(leaseMs: Long): Long =
    math.max(60000L,
      if (leaseMs > (Long.MaxValue - 1) / 2) Long.MaxValue / 2 else 2 * leaseMs)

  /** Claim `current+1`, build its manifest lines from the carried
    * entries (empty for version 1) and publish them; returns the version.
    * A `build` failure (a schema check, an empty-table guard) releases
    * the claim, if still ours, and rethrows: nothing became visible. */
  def publish(spark: SparkSession, root: String)(
      build: (Long, Seq[Entry]) => Seq[String]): Long = {
    val startNs = System.nanoTime
    val budgetMs = publishDeadlineMs(leaseMs(spark))
    def withinBudget: Boolean = (System.nanoTime - startNs) / 1000000L < budgetMs
    val me = s"writer-$uuid8-${Thread.currentThread().getId}"
    var attempt = 0
    // the claim under lease watch: version, owner bytes, first seen
    var watchV = -1L
    var watchSig: Option[String] = None
    var watchSince = 0L
    while (withinBudget) {
      val cur = Manifest.currentVersion(spark, root)
      val v = cur + 1
      if (tryClaim(spark, root, v, me)) {
        val carried = if (cur == 0) Seq.empty else Manifest.entries(spark, root, cur)
        // release is ownership-checked, then an atomic rename; a break
        // and re-claim between the two degrades to a duplicate claim,
        // which the no-clobber publish arbitrates
        val lines =
          try build(v, carried)
          catch { case e: Throwable =>
            if (claimOwner(spark, Manifest.claimPath(root, v)).contains(me))
              breakClaim(spark, root, v)
            throw e
          }
        try { writeManifest(spark, root, v, lines); return v }
        catch { case _: CommitLostException =>
          watchV = -1L; watchSig = None
        }
      }
      // the claim we lost to may be a crashed writer's: break it once it
      // has stayed unchanged, with no manifest, for a full lease
      val cp = Manifest.claimPath(root, v)
      val f = Manifest.fs(spark, cp)
      val live =
        try !f.exists(Manifest.path(root, v)) && f.exists(cp)
        catch { case _: java.io.FileNotFoundException => false }
      if (!live) { watchV = -1L; watchSig = None }
      else {
        val sig = claimOwner(spark, cp)
        if (watchV != v || watchSig != sig) {
          watchV = v; watchSig = sig; watchSince = System.nanoTime
        } else if ((System.nanoTime - watchSince) / 1000000L > leaseMs(spark)) {
          breakClaim(spark, root, v)
          watchV = -1L; watchSig = None
        }
      }
      attempt += 1
      Thread.sleep(math.min(200L, 5L * attempt))
    }
    throw new IllegalStateException(
      s"commit on $root could not claim a version for ${budgetMs / 1000} s — a " +
        "live writer is holding the claim within its lease (crashed writers' " +
        "claims are broken automatically after spark.graft.snapshots.claimLeaseMs)")
  }

  /** `<writer>-e<epoch>` ids parse to (writer, epoch); others to None. */
  private def parseTxnId(id: String): Option[(String, Long)] = {
    val i = id.lastIndexOf("-e")
    if (i <= 0) None
    else {
      val suffix = id.substring(i + 2)
      if (suffix.nonEmpty && suffix.forall(_.isDigit))
        try Some((id.substring(0, i), suffix.toLong))
        catch { case _: NumberFormatException => None }
      else None
    }
  }

  /** Is `txnId` covered by a marker of `es`: the same id, or for a
    * `<writer>-e<epoch>` id, the same writer at an equal or later epoch
    * (epochs are monotone per writer)? */
  private def txnCommitted(es: Seq[Entry], txnId: String): Boolean = {
    val mine = parseTxnId(txnId)
    es.exists { e =>
      e.kind == "T" && (e.path == txnId || ((mine, parseTxnId(e.path)) match {
        case (Some((w, ep)), Some((we, epe))) => we == w && epe >= ep
        case _ => false
      }))
    }
  }

  /** The current version when it already covers `txnId`: the fast
    * replay check, before a caller writes any file. */
  def committed(spark: SparkSession, root: String, txnId: String): Option[Long] = {
    require(txnId.matches("[A-Za-z0-9._-]+"), s"unsafe txn id: $txnId")
    val cur = Manifest.currentVersion(spark, root)
    Some(cur).filter(c => c > 0 && txnCommitted(Manifest.entries(spark, root, c), txnId))
  }

  /** [[publish]] of a version that carries every entry and appends
    * `build`'s new lines. With a transaction id it is exactly once: the
    * id is re-checked under the claim (a replay returns the current
    * version and publishes nothing), its `T` marker precedes the new
    * lines in the same version, and a `<writer>-e<epoch>` marker
    * replaces that writer's older one, so a long-lived writer holds one
    * manifest line, not one per epoch. Other ids are kept for the life
    * of the table. Every commit kind carries markers. */
  def publishAdding(spark: SparkSession, root: String, txnId: Option[String])(
      build: (Long, Seq[Entry]) => Seq[String]): Long = txnId match {
    case None => publish(spark, root)((v, carried) => carried.map(_.line) ++ build(v, carried))
    case Some(id) =>
      final class AlreadyCommitted extends RuntimeException
      val writer = parseTxnId(id).map(_._1)
      try publish(spark, root) { (v, carried) =>
        if (txnCommitted(carried, id)) throw new AlreadyCommitted
        val kept = carried.filterNot(e => e.kind == "T" &&
          writer.exists(w => parseTxnId(e.path).exists(_._1 == w)))
        kept.map(_.line) ++ (Entry("T", v, id).line +: build(v, carried))
      } catch { case _: AlreadyCommitted => Manifest.currentVersion(spark, root) }
  }
}
