package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Sub-linear membership store for the crawl's NARROW KEY ARTIFACTS
  * (`urls` — every canonical key ever kept; `frontier` — every key ever
  * queued). The one loop a real crawler runs millions of times is "is
  * this key new?", and the round-12 shape paid O(full history) per
  * micro-batch: a left-anti join whose right side re-read and
  * re-shuffled the entire artifact every batch. This store makes that
  * per-batch cost a function of the BATCH, not the history:
  *
  *   - **Increments** stay exactly the round-12 layout —
  *     `<path>/batch_id=N/` parquet via the idempotent batch-keyed sink
  *     (replayed epochs no-op; the reader excludes the in-flight epoch
  *     so replays re-derive their original decisions).
  *   - **Bloom sidecars**: each epoch's keys also write a blob at
  *     `<path>_bloom/batch_id=N/bf.bin` — committed right AFTER the
  *     keys (the count and the keys share one write job); a crash
  *     between the two writes leaves a live epoch without a blob,
  *     which DISARMS the prefilter (exact, just slower) until the
  *     engine's replay of the failed batch heals it. Committed blobs
  *     always over-approximate their keys (false positives cost a
  *     confirm; false negatives are impossible). A candidate missing
  *     EVERY blob is
  *     provably new and skips the exact join entirely — at crawl
  *     steady state that is the bulk of a batch's genuinely-new links,
  *     checked map-side with zero I/O beyond the (tiny, compacted)
  *     blobs themselves.
  *   - **Compacted store**: `compact()` folds all epochs but the
  *     youngest into `<path>_compacted/v=K/data/kb=<b>/` — hash-bucketed
  *     on `pmod(xxhash64(key), nb)` with `nb` RE-SIZED each compaction
  *     (smallest power of two keeping buckets under
  *     `targetRowsPerBucket`, the extendible-hashing move), rows sorted
  *     by key within each bucket. The exact confirm then reads ONLY the
  *     buckets the bloom-positive candidates hash into — partition
  *     pruning at the scan — so confirm I/O is
  *     `O(min(candidates, nb) · targetRowsPerBucket)`: bounded by the
  *     batch, FLAT in history size. With the pruned side small, AQE
  *     plans the anti-join as a broadcast (no shuffle of anything
  *     history-sized; the shuffle the old shape paid per batch is paid
  *     once per compaction instead).
  *
  * Crash/replay contract (proved in CrawlStoreSpec):
  *   - compaction NEVER folds the youngest epoch — the only epoch a
  *     Structured Streaming restart can replay — so the reader's
  *     own-epoch exclusion keeps working after any number of
  *     compactions;
  *   - the `v=K` directory is committed by writing data+bloom first and
  *     flipping the one-line `_META` pointer last (the dim-store
  *     `_LATEST` pattern); the tiers a flip supersedes (the replaced
  *     `v` dir and the increments folded into the new one) are vacuumed
  *     with a ONE-COMPACTION GRACE — they survive until the NEXT flip,
  *     so a reader that resolved the old meta keeps a consistent
  *     snapshot across a concurrent compact (old-or-new, never mixed,
  *     never missing — the Sinks.upsertDims contract); a crash between
  *     flip and vacuum merely leaves keys present in both tiers —
  *     harmless for a membership artifact (the anti-join is idempotent
  *     in duplicates);
  *   - the bloom prefilter arms only when blobs COVER the history
  *     (compacted blob present when a compacted tier exists, and an
  *     epoch blob per un-folded increment epoch); artifacts written by
  *     the pre-store layout simply take the exact path unpruned.
  */
object CrawlStore {

  /** One-line text pointer: `version nb upTo rows`. */
  private[graft] case class Meta(version: Int, nb: Long, upTo: Long, rows: Long)

  private def metaPath(path: String) = new Path(s"${path}_compacted/_META")

  private[graft] def readMeta(fs: FileSystem, path: String): Option[Meta] =
    graft.util.AtomicCommit.readPointer(fs, metaPath(path)).collect {
      case Array(v, nb, upTo, rows) =>
        Meta(v.toInt, nb.toLong, upTo.toLong, rows.toLong)
    }

  private def writeMeta(fs: FileSystem, path: String, m: Meta): Unit =
    graft.util.AtomicCommit.commitPointer(fs, metaPath(path),
      s"${m.version} ${m.nb} ${m.upTo} ${m.rows}")

  private[graft] def listEpochs(fs: FileSystem, path: String): Seq[Long] = {
    val root = new Path(path)
    if (!fs.exists(root)) Nil
    else fs.listStatus(root).toSeq
      .map(_.getPath.getName)
      .filter(_.startsWith("batch_id="))
      .map(_.stripPrefix("batch_id=").toLong)
  }

  private def vDir(path: String, version: Int) =
    s"${path}_compacted/v=$version"

  /** The kb a key hashes into at bucket count `nb` — the ONE formula
    * shared by compaction (write side) and the pruned confirm (read
    * side). */
  private def kbOf(key: String, nb: Long) =
    pmod(xxhash64(col(key)), lit(nb)).cast("int")

  /** Largest history (rows) the compacted tier still writes a bloom
    * for: 8 bits/key caps the blob at 16 MB. Beyond it the blob itself
    * would grow linearly with history and ship with every stage — the
    * exact failure mode this store exists to kill — so the prefilter
    * retires and the bucket-pruned confirm carries membership alone
    * (its per-batch cost is `O(candidates · targetRowsPerBucket)`,
    * already independent of history). */
  private[graft] val MaxBloomItems: Long = 1L << 24

  /** Read a small raw blob file fully, driver-side. */
  private def readSmall(fs: FileSystem, p: Path): Array[Byte] = {
    val len = fs.getFileStatus(p).getLen
    require(len <= (1L << 28), s"bloom blob too large: $p ($len)")
    val in = fs.open(p)
    try {
      val out = new java.io.ByteArrayOutputStream(len.toInt)
      val buf = new Array[Byte](1 << 16)
      var n = in.read(buf)
      while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
      out.toByteArray
    } finally in.close()
  }

  /** Atomically (temp + rename) write a raw blob file. Keep-if-exists
    * (the default) is only safe for the per-EPOCH blobs, whose content
    * is deterministic in the epoch's keys — a replay rewrites the same
    * bytes. The compacted-tier blob is NOT replay-deterministic (a
    * compact retried after a crash-before-META-flip can fold MORE
    * epochs into the same v dir), so that caller passes
    * `overwrite = true`: keeping the stale smaller bloom there would
    * create false negatives — known keys classified "provably new" —
    * violating the blobs-over-approximate-keys invariant. */
  private def writeRawBlob(fs: FileSystem, target: Path,
                           bytes: Array[Byte],
                           overwrite: Boolean = false): Unit = {
    if (fs.exists(target)) {
      if (!overwrite) return
      fs.delete(target, false): Unit
    }
    fs.mkdirs(target.getParent)
    val tmp = new Path(target.getParent,
      s".${target.getName}.tmp.${java.util.UUID.randomUUID()}")
    val out = fs.create(tmp, true)
    try out.write(bytes) finally out.close()
    if (!fs.rename(tmp, target)) {
      fs.delete(tmp, false)
      require(fs.exists(target), s"blob commit to $target failed")
    }
  }

  private def hasParquetPart(fs: FileSystem, dir: Path): Boolean =
    fs.exists(dir) && fs.listStatus(dir).exists { st =>
      val n = st.getPath.getName
      n.endsWith(".parquet") && !n.startsWith(".") && !n.startsWith("_")
    }

  /** Epoch bloom blobs + (if compacted) the compacted-tier blob, IF
    * they cover the full history; None disarms the prefilter. Blobs
    * are preferred as raw `bf.bin` files read driver-side (zero Spark
    * jobs per batch — the round-18 shape [[appendKeys]] writes); the
    * one-row-parquet layout earlier epochs wrote is read as a fallback
    * in a single Spark job. */
  private def coveringBlobs(spark: SparkSession, fs: FileSystem,
                            path: String, meta: Option[Meta])
      : Option[Seq[Array[Byte]]] = {
    val upTo = meta.map(_.upTo).getOrElse(-1L)
    val live = listEpochs(fs, path).filter(_ > upTo).toSet
    val rawByEpoch = live.toSeq.flatMap { e =>
      val raw = new Path(s"${path}_bloom/batch_id=$e", "bf.bin")
      if (fs.exists(raw)) Some(e -> readSmall(fs, raw)) else None
    }.toMap
    // an epoch without bf.bin is covered only by a legacy parquet part:
    // a crash inside writeRawBlob (after mkdirs, before the rename)
    // leaves an epoch dir with no blob, which a parquet read throws on
    val needPq = live -- rawByEpoch.keySet
    if (!needPq.forall(e => hasParquetPart(fs, new Path(s"${path}_bloom/batch_id=$e"))))
      return None
    val compBlob: Option[Array[Byte]] = meta.map { m =>
      val p = s"${vDir(path, m.version)}/bloom"
      val raw = new Path(p, "bf.bin")
      if (fs.exists(raw)) readSmall(fs, raw)
      else if (hasParquetPart(fs, new Path(p)))
        spark.read.parquet(p).head().getAs[Array[Byte]]("bf")
      else return None
    }
    // read ONLY the legacy epochs' directories — the _bloom root also
    // holds raw bf.bin files now, and a whole-root parquet read could
    // pick one for schema inference (lexicographic listing: batch_id=10
    // sorts before batch_id=9) and throw on every batch of a
    // mixed-layout store
    val pqBlobs =
      if (needPq.isEmpty) Nil
      else spark.read.option("basePath", s"${path}_bloom")
        .parquet(needPq.toSeq.sorted
          .map(e => s"${path}_bloom/batch_id=$e"): _*)
        .select("bf").collect().map(_.getAs[Array[Byte]]("bf")).toSeq
    Some(compBlob.toSeq ++ rawByEpoch.values.toSeq ++ pqBlobs)
  }

  /** Rows of `candidates` whose `keyCol` appears NOWHERE in the
    * artifact's history (compacted tier + increments), excluding the
    * in-flight epoch `batchId` so a replayed batch re-derives its
    * original survivors. Null keys are always returned as new — they
    * cannot be members of a keyed history (callers that don't want
    * them should filter before appending). `candidates` is consumed
    * several times — pass it materialized (localCheckpoint) when it is
    * not a cheap scan. */
  def antiJoinNew(candidates: DataFrame, keyCol: String,
                  path: String, batchId: Long): DataFrame =
    antiJoinNewAll(candidates, keyCol, Seq(path), batchId)

  /** Rows of `candidates` whose `keyCol` appears nowhere in ANY of the
    * `paths` artifacts — one bloom prefilter over every path's blobs
    * and one anti-join against the union of their histories, instead
    * of a per-path cascade (the crawl loop checks outlinks against
    * both `urls` and `frontier`; membership in NONE is one predicate,
    * not two sequential jobs). Semantics per path are identical to
    * [[antiJoinNew]]; the prefilter arms only when every non-empty
    * path's blobs cover its history. */
  def antiJoinNewAll(candidates: DataFrame, keyCol: String,
                     paths: Seq[String], batchId: Long): DataFrame = {
    val spark = candidates.sparkSession
    val states = paths.map { path =>
      val fs = new Path(path)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val meta = readMeta(fs, path)
      val upTo = meta.map(_.upTo).getOrElse(-1L)
      val haveIncrements = listEpochs(fs, path).exists(_ > upTo)
      val incr: Option[DataFrame] =
        if (haveIncrements)
          Some(spark.read.parquet(path)
            .filter(col("batch_id").cast("long") =!= lit(batchId) &&
              col("batch_id").cast("long") > lit(upTo))
            .select(keyCol))
        else None
      (path, fs, meta, incr)
    }.filter { case (_, _, meta, incr) => meta.nonEmpty || incr.nonEmpty }
    if (states.isEmpty) return candidates

    // bloom prefilter, armed PER PATH: each path whose blobs cover its
    // history contributes them; rows missing every covered path's blobs
    // are provably absent from those paths and only anti-join the
    // UNCOVERED paths' histories (disarming everything because ONE
    // path's bloom retired — e.g. past MaxBloomItems — would re-pay the
    // exact join for every path in exactly the large-history regime the
    // store targets). A NULL key can never be a member of a keyed
    // history, so it is always "new" — coalescing the (null) bloom
    // verdict to false routes it through the uncovered-only join, where
    // left_anti passes null keys through.
    val withBlobs = states.map { case st @ (path, fs, meta, _) =>
      (st, coveringBlobs(spark, fs, path, meta))
    }
    val coveredBlobs = withBlobs.flatMap(_._2.getOrElse(Nil))
    val coveredSts = withBlobs.filter(_._2.nonEmpty).map(_._1)
    val uncoveredSts = withBlobs.filter(_._2.isEmpty).map(_._1)
    val (maybe, sureNew) =
      if (coveredBlobs.nonEmpty) {
        val hit = coalesce(
          graft.operators.BloomPrune.mightContainAny(col(keyCol),
            coveredBlobs), lit(false))
        (candidates.filter(hit), Some(candidates.filter(!hit)))
      } else (candidates, None)

    // history of a path set: compacted tiers PRUNED to the buckets the
    // surviving candidates hash into (a partition-column read — pruned
    // at the scan), plus unfolded increments. The kb collect is bounded
    // by nb; when candidates cover most buckets the pruning would not
    // pay for itself, so read the tier whole.
    def histOf(sts: Seq[(String, FileSystem, Option[Meta], Option[DataFrame])],
               pruneBy: DataFrame): Option[DataFrame] = {
      val compacteds = sts.flatMap { case (path, fs, meta, _) =>
        meta.flatMap { m =>
          val data = s"${vDir(path, m.version)}/data"
          val kbs = pruneBy.select(kbOf(keyCol, m.nb).as("kb"))
            .distinct().collect().map(_.getInt(0))
          if (kbs.isEmpty) None
          else if (kbs.length * 2L >= m.nb)
            Some(spark.read.parquet(data).select(keyCol))
          else {
            // read the hit bucket DIRECTORIES directly — partition
            // discovery over the whole tier would list all nb dirs,
            // O(history/target) per batch; naming them keeps the scan's
            // setup cost proportional to the batch too. Empty buckets
            // have no dir; existence-check the candidates
            // (O(hit buckets)).
            val dirs = kbs.map(k => s"$data/kb=$k")
              .filter(p => fs.exists(new Path(p)))
            if (dirs.isEmpty) None
            else Some(spark.read.option("basePath", data)
              .parquet(dirs.toIndexedSeq: _*).select(keyCol))
          }
        }
      }
      (compacteds ++ sts.flatMap(_._4)).reduceOption(_.union(_))
    }
    val histC = histOf(coveredSts, maybe)
    val histU = histOf(uncoveredSts, candidates)
    val confirmed = (histC.toSeq ++ histU.toSeq).reduceOption(_.union(_))
      .fold(maybe)(h => maybe.join(h, Seq(keyCol), "left_anti"))
    val rest = sureNew.map(sn =>
      histU.fold(sn)(h => sn.join(h, Seq(keyCol), "left_anti")))
    rest.fold(confirmed)(confirmed.unionByName(_))
  }

  /** Append an epoch's keys in TWO jobs: the keys commit through the
    * idempotent batch-keyed write with the row count OBSERVED on the
    * write job itself (no separate count job, no checkpoint of the
    * caller's plan — the keys frame is consumed exactly once), then
    * the bloom blob builds from the just-written epoch files
    * (batch-sized read, no re-run of the caller's lineage) and commits
    * as a raw driver-side file. `carry` columns ride along in the key
    * rows (the frontier keeps the un-canonicalized url next to its
    * key).
    *
    * Crash contract (keys now commit BEFORE their blob): a crash
    * between the two writes leaves a live epoch without a blob, which
    * [[coveringBlobs]] treats as uncovered — the prefilter DISARMS and
    * every candidate takes the exact join, so results stay exact; the
    * streaming engine then replays the failed batch, and the replay
    * heals the blob (keys write skips via _SUCCESS, the blob write
    * runs). The reverse order's orphan blob was equally safe but cost
    * one more job per epoch on every normal batch. */
  def appendKeys(path: String)(df: DataFrame, keyCol: String,
                               batchId: Long,
                               carry: Seq[String] = Nil): Unit = {
    val spark = df.sparkSession
    val sel = df.select((keyCol +: carry).map(col): _*)
    val fs = new Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val epochDir = new Path(path, s"batch_id=$batchId")
    val blobPath = new Path(s"${path}_bloom/batch_id=$batchId", "bf.bin")
    val committed = fs.exists(new Path(epochDir, "_SUCCESS"))
    if (committed && fs.exists(blobPath)) return // full replay no-op
    val n: Long =
      if (!committed) {
        val obs = new org.apache.spark.sql.Observation()
        sel.observe(obs, count(lit(1)).as("n"))
          .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .parquet(epochDir.toString)
        obs.get("n").asInstanceOf[Long]
      } else -1L // crash-window replay: keys committed, blob missing
    // the blob aggregates over the COMMITTED epoch (deterministic in
    // the keys, so a replayed build writes identical bytes); one row of
    // bytes lands on the driver and commits as a raw atomic file —
    // never a one-row Spark write job. [[coveringBlobs]] reads it back
    // driver-side with zero jobs and still falls back to the parquet
    // layout for epochs written before this shape. An all-empty epoch
    // writes no part files, so its blob is the driver-built empty one.
    val parts = fs.listStatus(epochDir).map(_.getPath)
      .filter(_.getName.endsWith(".parquet"))
    val blob =
      if (n == 0 || parts.isEmpty) graft.operators.BloomPrune.emptyBlob
      else {
        val keys = spark.read.parquet(epochDir.toString)
        val rows = if (n >= 0) n else keys.count()
        graft.operators.BloomPrune.bloomBlob(keys, keyCol, rows)
      }
    writeRawBlob(fs, blobPath, blob)
  }

  /** Fold every epoch but the youngest `keepEpochs` (≥ 1 — the youngest
    * is the only epoch a restart can replay) into a fresh hash-bucketed
    * compacted tier, re-sizing the bucket count to the history
    * (smallest power of two with ≤ `targetRowsPerBucket` rows per
    * bucket), then flip `_META` and best-effort vacuum the generation
    * the PREVIOUS flip superseded (one-compaction reader grace — see
    * the class doc; the just-replaced `v` dir and the epochs folded
    * here survive until the next flip). Safe to re-run; a second call
    * with nothing new to fold is a no-op. */
  def compact(spark: SparkSession, path: String, keyCol: String,
              carry: Seq[String] = Nil,
              targetRowsPerBucket: Long = 1L << 20,
              keepEpochs: Int = 1): Unit = {
    require(keepEpochs >= 1, "the youngest (replayable) epoch must survive")
    val fs = new Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val meta = readMeta(fs, path)
    val upTo = meta.map(_.upTo).getOrElse(-1L)
    val epochs = listEpochs(fs, path).filter(_ > upTo).sorted
    if (epochs.length <= keepEpochs) return
    val fold = epochs.dropRight(keepEpochs)
    val cols = (keyCol +: carry).map(col)
    val foldDf = spark.read.parquet(path)
      .filter(col("batch_id").cast("long")
        .isin(fold.map(java.lang.Long.valueOf): _*))
      .select(cols: _*)
    val all = meta.fold(foldDf) { m =>
      spark.read.parquet(s"${vDir(path, m.version)}/data")
        .select(cols: _*).union(foldDf)
    }.dropDuplicates(keyCol)
    // the one history-sized pass: counted, bucketed, sorted, written —
    // per-batch reads amortize this instead of re-paying it every epoch
    val rows = all.count()
    var nb = 1L
    while (nb * targetRowsPerBucket < rows) nb <<= 1
    val version = meta.map(_.version + 1).getOrElse {
      // survive an orphaned v dir from a crash before a META flip
      val compRoot = new Path(s"${path}_compacted")
      val orphans =
        if (fs.exists(compRoot))
          fs.listStatus(compRoot).toSeq.map(_.getPath.getName)
            .filter(_.startsWith("v=")).map(_.stripPrefix("v=").toInt)
        else Nil
      orphans.foldLeft(0)(math.max) + 1
    }
    val out = vDir(path, version)
    all.withColumn("kb", kbOf(keyCol, nb))
      .repartition(math.min(nb, 1024L).toInt, col("kb"))
      .sortWithinPartitions("kb", keyCol)
      .write.mode("overwrite").partitionBy("kb").parquet(s"$out/data")
    // past MaxBloomItems the blob would grow with history — retire the
    // prefilter (no v-bloom → antiJoinNew disarms it) and let the
    // bucket-pruned confirm carry membership alone. The blob OVERWRITES
    // (and the retired branch deletes any leftover): a compact retried
    // after a crash-before-META-flip folds MORE epochs into this same v
    // dir, so a kept stale blob would under-approximate the rewritten
    // data — false negatives on known keys.
    if (rows <= MaxBloomItems) {
      val blob = graft.operators.BloomPrune.bloomBlob(all, keyCol, rows)
      writeRawBlob(fs, new Path(s"$out/bloom", "bf.bin"), blob,
        overwrite = true)
    } else fs.delete(new Path(s"$out/bloom"), true): Unit
    writeMeta(fs, path, Meta(version, nb, fold.max, rows))
    // post-flip vacuum with ONE-COMPACTION GRACE (the dim store's
    // reader contract, Sinks.upsertDims): an in-flight reader that
    // resolved the META this flip just replaced may still be scanning
    // v=<replaced> and the increments folded HERE — both survive until
    // the NEXT flip. What is vacuumed now is the generation superseded
    // by the PREVIOUS flip: epochs folded then (<= the old upTo) and v
    // dirs older than the version just replaced. New-meta readers
    // never see graced leftovers (every increment read filters
    // batch_id > upTo; the compacted read names its one v dir), so the
    // only cost is one extra generation on disk between compactions —
    // and a crash mid-delete still only leaves harmless duplicates.
    listEpochs(fs, path).filter(_ <= upTo).foreach(e =>
      fs.delete(new Path(path, s"batch_id=$e"), true))
    listEpochs(fs, s"${path}_bloom").filter(_ <= upTo).foreach(e =>
      fs.delete(new Path(s"${path}_bloom", s"batch_id=$e"), true))
    meta.foreach { m =>
      val compRoot = new Path(s"${path}_compacted")
      fs.listStatus(compRoot).toSeq.map(_.getPath.getName)
        .filter(_.startsWith("v=")).map(_.stripPrefix("v=").toInt)
        .filter(_ < m.version)
        .foreach(v => fs.delete(new Path(vDir(path, v)), true))
    }
  }
}
