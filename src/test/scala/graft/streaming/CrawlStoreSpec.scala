package graft.streaming

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** The sub-linear crawl key store: exactness of the bloom-prefiltered,
  * bucket-pruned membership check against a brute-force set difference;
  * compaction mid-stream; replay after compaction; the crash invariants
  * (blob-before-keys over-approximation, legacy-layout disarm); and the
  * partition pruning the whole design exists for. */
class CrawlStoreSpec extends SparkSpec {

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def keysDf(ids: Seq[Long]) = {
    import spark.implicits._
    ids.map(i => s"site$i.example/p$i").toDF("canon")
  }

  test("antiJoinNew == brute-force set difference across increments, " +
       "compaction, and post-compaction increments; epochs fold " +
       "re-bucketed and sorted; youngest epoch survives") {
    import spark.implicits._
    val dir = tmp("crawl_store") + "/urls"
    // epochs 0..3: keys 0..39, ten per epoch
    (0 to 3).foreach(e => CrawlStore.appendKeys(dir)(
      keysDf(e * 10L until e * 10L + 10L), "canon", e))
    // fold 0..2 (keep the youngest), tiny buckets to force nb > 1
    CrawlStore.compact(spark, dir, "canon", targetRowsPerBucket = 8L)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val meta = CrawlStore.readMeta(fs, dir).get
    assert(meta.upTo == 2L && meta.rows == 30L, meta.toString)
    assert(meta.nb == 4L, s"30 rows / 8 per bucket -> nb=4: $meta")
    // folded increment dirs survive THIS flip (one-compaction reader
    // grace — vacuumed at the next flip); the youngest epoch is intact
    assert(fs.exists(new org.apache.hadoop.fs.Path(dir, "batch_id=0")))
    assert(fs.exists(new org.apache.hadoop.fs.Path(dir, "batch_id=3")))
    // epoch 4 arrives after compaction
    CrawlStore.appendKeys(dir)(keysDf(40L until 50L), "canon", 4L)
    // candidates: half seen (drawn from compacted, kept-epoch, and
    // post-compaction tiers), half new — exact set difference required
    val candIds = Seq(0L, 7L, 25L, 33L, 44L, 100L, 101L, 102L, 103L)
    val expected = candIds.filter(_ >= 50L).map(i => s"site$i.example/p$i").toSet
    val got = CrawlStore.antiJoinNew(keysDf(candIds), "canon", dir, 5L)
      .select($"canon").as[String].collect().toSet
    assert(got == expected, s"got $got, expected $expected")
    // a SECOND compact with nothing new to fold is a no-op
    val before = CrawlStore.readMeta(fs, dir).get
    CrawlStore.compact(spark, dir, "canon", targetRowsPerBucket = 8L,
      keepEpochs = 2)
    assert(CrawlStore.readMeta(fs, dir).get == before)
    // a NULL key is always "new" — identically with the bloom
    // prefilter armed (blobs cover this store) and disarmed
    val nullCand = Seq(Some("site7.example/p7"), None, Some("fresh.example/n"))
      .toDF("canon")
    val armed = CrawlStore.antiJoinNew(nullCand, "canon", dir, 6L)
      .select($"canon").collect().map(r => Option(r.getString(0))).toSet
    assert(armed == Set(None, Some("fresh.example/n")), armed.toString)
    fs.delete(new org.apache.hadoop.fs.Path(dir + "_bloom"), true)
    fs.delete(new org.apache.hadoop.fs.Path(
      s"${dir}_compacted/v=${before.version}/bloom"), true)
    val disarmed = CrawlStore.antiJoinNew(nullCand, "canon", dir, 6L)
      .select($"canon").collect().map(r => Option(r.getString(0))).toSet
    assert(disarmed == armed, s"disarmed $disarmed != armed $armed")
  }

  test("partition pruning: a one-candidate confirm reads only its own " +
       "kb bucket of the compacted tier") {
    import spark.implicits._
    val dir = tmp("crawl_prune") + "/urls"
    (0 to 1).foreach(e => CrawlStore.appendKeys(dir)(
      keysDf(e * 100L until e * 100L + 100L), "canon", e))
    CrawlStore.compact(spark, dir, "canon", targetRowsPerBucket = 16L)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val meta = CrawlStore.readMeta(fs, dir).get
    assert(meta.nb >= 8L, meta.toString)
    val data = s"${dir}_compacted/v=${meta.version}/data"
    val oneKey = "site42.example/p42" // in the compacted tier
    val kb = spark.range(1)
      .select(pmod(xxhash64(lit(oneKey)), lit(meta.nb)).cast("int"))
      .head().getInt(0)
    // the pruned read the confirm issues touches files of ONE bucket
    val files = spark.read.parquet(data)
      .filter(col("kb") === kb)
      .select(input_file_name()).distinct().as[String].collect()
    assert(files.nonEmpty && files.forall(_.contains(s"kb=$kb")),
      files.mkString(", "))
    val allFiles = spark.read.parquet(data)
      .select(input_file_name()).distinct().count()
    assert(files.length < allFiles,
      s"pruning must skip buckets: ${files.length} vs $allFiles")
    // and the store still answers exactly for that key + a new one
    val got = CrawlStore
      .antiJoinNew(Seq(oneKey, "brand.new/x").toDF("canon"), "canon", dir, 9L)
      .select($"canon").as[String].collect().toSet
    assert(got == Set("brand.new/x"), got.toString)
  }

  test("crash invariants: a blob without its keys epoch only " +
       "over-approximates (no lost keys, no dup keys); a keys epoch " +
       "without a blob DISARMS the prefilter (legacy layout stays exact)") {
    import spark.implicits._
    // (a) blob-first crash: epoch 1's blob committed, its keys did not
    val dirA = tmp("crawl_crash_a") + "/urls"
    CrawlStore.appendKeys(dirA)(keysDf(0L until 10L), "canon", 0L)
    val orphanBlob = graft.operators.BloomPrune.bloomBlob(
      keysDf(50L until 60L), "canon", 10L)
    graft.sources.Sinks.idempotentBatchSink(s"${dirA}_bloom")(
      spark.range(1).select(lit(orphanBlob).as("bf"), lit(10L).as("n_keys")), 1L)
    // key 55 hits the orphan blob (false positive vs the KEY history) —
    // the exact confirm must still pass it through as new
    val gotA = CrawlStore
      .antiJoinNew(keysDf(Seq(5L, 55L, 99L)), "canon", dirA, 2L)
      .select($"canon").as[String].collect().toSet
    assert(gotA == Set("site55.example/p55", "site99.example/p99"), gotA.toString)
    // (b) legacy layout: keys epochs with NO blobs at all
    val dirB = tmp("crawl_crash_b") + "/urls"
    graft.sources.Sinks.idempotentBatchSink(dirB)(keysDf(0L until 10L), 0L)
    val gotB = CrawlStore
      .antiJoinNew(keysDf(Seq(3L, 30L)), "canon", dirB, 1L)
      .select($"canon").as[String].collect().toSet
    assert(gotB == Set("site30.example/p30"), gotB.toString)
    // (c) PARTIAL blobs (epoch 0 has none, epoch 1 does): prefilter
    // must disarm — a bloom-negative candidate could live in epoch 0
    graft.sources.Sinks.idempotentBatchSink(dirB + "x")(keysDf(0L until 10L), 0L)
    CrawlStore.appendKeys(dirB + "x")(keysDf(10L until 20L), "canon", 1L)
    val gotC = CrawlStore
      .antiJoinNew(keysDf(Seq(4L, 14L, 40L)), "canon", dirB + "x", 2L)
      .select($"canon").as[String].collect().toSet
    assert(gotC == Set("site40.example/p40"), gotC.toString)
  }

  test("crash inside the blob write: an empty epoch bloom dir disarms " +
       "the prefilter; the next batch and the replay stay exact, and the " +
       "replay heals the blob") {
    import spark.implicits._
    val dir = tmp("crawl_empty_blob") + "/urls"
    (0 to 2).foreach(e => CrawlStore.appendKeys(dir)(
      keysDf(e * 10L until e * 10L + 10L), "canon", e))
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // epoch 2's keys committed, and its blob write died between mkdirs
    // and the rename: the epoch's bloom dir exists but holds no blob
    val blob = new org.apache.hadoop.fs.Path(s"${dir}_bloom/batch_id=2", "bf.bin")
    fs.delete(blob, false)
    assert(fs.exists(blob.getParent) && fs.listStatus(blob.getParent).isEmpty)
    val cands = keysDf(Seq(3L, 13L, 23L, 77L))
    def newKeys(batchId: Long) = CrawlStore.antiJoinNew(cands, "canon", dir, batchId)
      .select($"canon").as[String].collect().toSet
    assert(newKeys(3L) == Set("site77.example/p77"))
    // the replay of batch 2 excludes its own epoch, then heals the blob
    assert(newKeys(2L) == Set("site23.example/p23", "site77.example/p77"))
    CrawlStore.appendKeys(dir)(keysDf(20L until 30L), "canon", 2L)
    assert(fs.exists(blob))
    assert(newKeys(3L) == Set("site77.example/p77"))
  }

  test("mixed-layout blobs: raw bf.bin epochs coexist with legacy " +
       "one-row-parquet epochs (raw epoch dir sorting FIRST) — the " +
       "legacy fallback reads only its own epoch dirs, stays armed " +
       "and exact") {
    import spark.implicits._
    val dir = tmp("crawl_mixed") + "/urls"
    // epoch 9: LEGACY layout — keys via the batch sink, blob as a
    // one-row parquet epoch (what pre-raw-layout stores wrote)
    graft.sources.Sinks.idempotentBatchSink(dir)(keysDf(0L until 10L), 9L)
    val legacyBlob = graft.operators.BloomPrune.bloomBlob(
      keysDf(0L until 10L), "canon", 10L)
    graft.sources.Sinks.idempotentBatchSink(s"${dir}_bloom")(
      spark.range(1).select(lit(legacyBlob).as("bf"), lit(10L).as("n_keys")), 9L)
    // epoch 10: RAW layout (appendKeys writes bf.bin) — and
    // "batch_id=10" sorts lexicographically BEFORE "batch_id=9", so a
    // whole-root parquet read would pick the bf.bin for schema
    // inference and throw
    CrawlStore.appendKeys(dir)(keysDf(10L until 20L), "canon", 10L)
    val got = CrawlStore.antiJoinNew(
      keysDf(Seq(3L, 13L, 300L)), "canon", dir, 11L)
      .select($"canon").as[String].collect().toSet
    assert(got == Set("site300.example/p300"), got.toString)
  }

  test("antiJoinNewAll == per-path antiJoinNew cascade — fully armed, " +
       "and with ONE path's blobs retired (per-path arming: the other " +
       "path keeps its prefilter)") {
    import spark.implicits._
    val root = tmp("crawl_all")
    val urls = s"$root/urls"
    val frontier = s"$root/frontier"
    (0 to 1).foreach(e => CrawlStore.appendKeys(urls)(
      keysDf(e * 10L until e * 10L + 10L), "canon", e))
    CrawlStore.compact(spark, urls, "canon", targetRowsPerBucket = 8L)
    (0 to 1).foreach(e => CrawlStore.appendKeys(frontier)(
      keysDf(e * 10L + 100L until e * 10L + 110L), "canon", e))
    val cands = keysDf(Seq(0L, 15L, 104L, 115L, 900L, 901L))
    def cascade(df: org.apache.spark.sql.DataFrame) =
      CrawlStore.antiJoinNew(
        CrawlStore.antiJoinNew(df, "canon", urls, 7L),
        "canon", frontier, 7L)
    def fused(df: org.apache.spark.sql.DataFrame) =
      CrawlStore.antiJoinNewAll(df, "canon", Seq(urls, frontier), 7L)
    val expected = Set("site900.example/p900", "site901.example/p901")
    val c1 = cascade(cands).select($"canon").as[String].collect().toSet
    val f1 = fused(cands).select($"canon").as[String].collect().toSet
    assert(c1 == expected && f1 == expected, s"cascade $c1 fused $f1")
    // retire the FRONTIER's blobs (as if its history outgrew
    // MaxBloomItems): fused must still be exact — urls stays armed,
    // frontier anti-joins unconditionally
    val fs = new org.apache.hadoop.fs.Path(frontier)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"${frontier}_bloom"), true)
    val c2 = cascade(cands).select($"canon").as[String].collect().toSet
    val f2 = fused(cands).select($"canon").as[String].collect().toSet
    assert(c2 == expected && f2 == expected, s"cascade $c2 fused $f2")
    // null keys ride through the mixed-arming path unchanged
    val withNull = Seq(Some("site0.example/p0"), None, Some("x.new/y"))
      .toDF("canon")
    val fN = fused(withNull).select($"canon").collect()
      .map(r => Option(r.getString(0))).toSet
    assert(fN == Set(None, Some("x.new/y")), fN.toString)
  }

  test("compact retried after a crash-before-META-flip rewrites the " +
       "v-tier bloom (no stale under-approximating blob)") {
    import spark.implicits._
    val dir = tmp("crawl_reblob") + "/urls"
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val metaP = new org.apache.hadoop.fs.Path(s"${dir}_compacted/_META")
    def metaBytes(): Array[Byte] = {
      val in = fs.open(metaP)
      try {
        val out = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](4096)
        var n = in.read(buf)
        while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
        out.toByteArray
      } finally in.close()
    }
    // compact #1 -> v1 (folds 0,1; keeps 2)
    (0L to 2L).foreach(e => CrawlStore.appendKeys(dir)(
      keysDf(e * 10L until e * 10L + 10L), "canon", e))
    CrawlStore.compact(spark, dir, "canon", targetRowsPerBucket = 8L)
    val v1Meta = metaBytes()
    // compact #2 -> v2 (folds 2,3; keeps 4) ... then CRASH before the
    // META flip: simulate by rewinding META to the v1 content (data
    // and bloom of v2 are on disk exactly as a crashed run leaves them)
    (3L to 4L).foreach(e => CrawlStore.appendKeys(dir)(
      keysDf(e * 10L until e * 10L + 10L), "canon", e))
    CrawlStore.compact(spark, dir, "canon", targetRowsPerBucket = 8L)
    val m2 = CrawlStore.readMeta(fs, dir).get
    assert(m2.version == 2 && m2.rows == 40L, m2.toString)
    val out = fs.create(metaP, true)
    try out.write(v1Meta) finally out.close()
    // epoch 5 arrives, then the RETRY: same v2 dir, MORE epochs folded
    // (2,3,4 -> 50 keys) than the crashed attempt's blob covers (40)
    CrawlStore.appendKeys(dir)(keysDf(50L until 60L), "canon", 5L)
    CrawlStore.compact(spark, dir, "canon", targetRowsPerBucket = 8L)
    val m3 = CrawlStore.readMeta(fs, dir).get
    assert(m3.version == 2 && m3.rows == 50L,
      s"retry must land in the same v dir with more keys: $m3")
    // a key folded ONLY by the retry (epoch 4) must not be classified
    // provably-new — a kept stale blob would drop it here
    val got = CrawlStore.antiJoinNew(
      keysDf(Seq(44L, 777L)), "canon", dir, 9L)
      .select($"canon").as[String].collect().toSet
    assert(got == Set("site777.example/p777"), got.toString)
  }

  test("compaction grace: a reader holding the just-replaced meta keeps " +
       "a consistent snapshot across a concurrent compact; the NEXT " +
       "compaction vacuums the superseded generation") {
    import spark.implicits._
    val dir = tmp("crawl_grace") + "/urls"
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def vPath(v: Int) = new org.apache.hadoop.fs.Path(s"${dir}_compacted/v=$v")
    def epochPath(e: Long) = new org.apache.hadoop.fs.Path(dir, s"batch_id=$e")
    // epochs 0..3 -> compact #1 folds 0..2 (meta v1, upTo 2)
    (0L to 3L).foreach(e => CrawlStore.appendKeys(dir)(
      keysDf(e * 10L until e * 10L + 10L), "canon", e))
    CrawlStore.compact(spark, dir, "canon", targetRowsPerBucket = 8L)
    assert(CrawlStore.readMeta(fs, dir).get.version == 1)
    // an IN-FLIGHT READER resolves the v1 meta now (antiJoinNew reads
    // meta + plans its scans eagerly, collects lazily) — candidates
    // span the compacted tier (7), the kept epoch (33), and new keys
    val inFlight = CrawlStore.antiJoinNew(
      keysDf(Seq(7L, 33L, 777L)), "canon", dir, 100L)
    // concurrent compact #2: epochs 4,5 arrive, fold 3,4 (meta v2)
    (4L to 5L).foreach(e => CrawlStore.appendKeys(dir)(
      keysDf(e * 10L until e * 10L + 10L), "canon", e))
    CrawlStore.compact(spark, dir, "canon", targetRowsPerBucket = 8L)
    assert(CrawlStore.readMeta(fs, dir).get.version == 2)
    // grace: v1 and the epochs it folded survive this flip...
    assert(fs.exists(vPath(1)), "replaced v dir must survive one flip")
    assert(fs.exists(epochPath(3L)), "epochs folded at flip 2 survive")
    // ...and the generation superseded by flip 1 (epochs 0..2) is gone
    (0L to 2L).foreach(e =>
      assert(!fs.exists(epochPath(e)), s"epoch $e superseded two flips ago"))
    // the in-flight reader now COLLECTS — its plan scans v1 + epoch 3;
    // both still exist, so it resolves exactly (old-or-new, never torn)
    val got = inFlight.select($"canon").as[String].collect().toSet
    assert(got == Set("site777.example/p777"), got.toString)
    // a fresh reader against the NEW meta is also exact (graced
    // leftovers never double-count: increments filter batch_id > upTo)
    val fresh = CrawlStore.antiJoinNew(
      keysDf(Seq(7L, 33L, 44L, 55L, 888L)), "canon", dir, 101L)
      .select($"canon").as[String].collect().toSet
    assert(fresh == Set("site888.example/p888"), fresh.toString)
    // compact #3 vacuums v1 + epochs 3,4 (superseded by flip 2)
    CrawlStore.appendKeys(dir)(keysDf(60L until 70L), "canon", 6L)
    CrawlStore.compact(spark, dir, "canon", targetRowsPerBucket = 8L)
    assert(CrawlStore.readMeta(fs, dir).get.version == 3)
    assert(!fs.exists(vPath(1)), "v1 must be vacuumed at the next flip")
    assert(fs.exists(vPath(2)), "v2 enters its own grace window")
    assert(!fs.exists(epochPath(3L)) && !fs.exists(epochPath(4L)))
    val after = CrawlStore.antiJoinNew(
      keysDf(Seq(7L, 33L, 44L, 55L, 65L, 999L)), "canon", dir, 102L)
      .select($"canon").as[String].collect().toSet
    assert(after == Set("site999.example/p999"), after.toString)
  }

  test("crawl ingest with compaction every 2 epochs: cross-batch dedup " +
       "and frontier suppression still exact, replay of the youngest " +
       "epoch a no-op after compaction folded everything older") {
    import spark.implicits._
    val dir = tmp("crawl_ingest_compact")
    def rec(uri: String, links: Seq[String]): String = {
      val html = s"<p>${links.map(l => s"<a href=\"$l\">x</a>").mkString}</p>"
      s"WARC/1.0\r\nWARC-Target-URI: $uri\r\nContent-Type: text/html\r\n" +
        s"Content-Length: ${html.length}\r\n\r\n$html\r\n\r\n"
    }
    def blob(id: Long, recs: String*) =
      (id, recs.mkString.getBytes("ISO-8859-1"))
    val ingest = CorpusIngest.crawlIngestBatch(
      s"$dir/artifact", compactEvery = 2, targetRowsPerBucket = 4L) _
    ingest(Seq(blob(1L,
      rec("https://a.example/p0", Seq("https://q.example/l0", "/p1")),
      rec("https://a.example/p1", Seq("https://q.example/l1"))))
      .toDF("doc_id", "payload"), 0L)
    // batch 1 triggers compaction (compactEvery=2, id % 2 == 1)
    ingest(Seq(blob(2L,
      rec("https://a.example/p0", Seq("https://x.example/never")), // dup
      rec("https://b.example/p2", Seq("https://q.example/l0", // queued
        "https://q.example/l2"))))
      .toDF("doc_id", "payload"), 1L)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(CrawlStore.readMeta(fs, s"$dir/artifact/urls").exists(_.upTo == 0L))
    assert(CrawlStore.readMeta(fs, s"$dir/artifact/frontier").exists(_.upTo == 0L))
    // batch 2: dups against the COMPACTED tier (p0 via compacted, p2
    // via the kept epoch); l1 already queued pre-compaction
    ingest(Seq(blob(3L,
      rec("https://a.example/p0#f", Seq()), // dup of compacted
      rec("https://b.example/p2?utm_s=1", Seq()), // dup of kept epoch
      rec("https://c.example/p3", Seq("https://q.example/l1", // queued (compacted)
        "https://q.example/l3"))))
      .toDF("doc_id", "payload"), 2L)
    val pages = spark.read.parquet(s"$dir/artifact/pages")
      .select($"canon").as[String].collect().toSet
    assert(pages == Set("a.example/p0", "a.example/p1", "b.example/p2",
      "c.example/p3"), pages.toString)
    def frontierSet() = {
      val parts = Seq(s"$dir/artifact/frontier") ++
        CrawlStore.readMeta(fs, s"$dir/artifact/frontier")
          .map(m => s"$dir/artifact/frontier_compacted/v=${m.version}/data")
      parts.flatMap(p => spark.read.parquet(p).select($"canon")
        .as[String].collect()).toSet
    }
    val f1 = frontierSet()
    // a.example/p1 was fetched batch 0 -> never queued; the dup p0's
    // x.example/never link must NOT count (its page never survived);
    // l0 queued exactly once
    assert(f1 == Set("q.example/l0", "q.example/l1",
      "q.example/l2", "q.example/l3"), f1.toString)
    // replay of the youngest epoch: identical artifacts, no dup rows
    val pagesCount = spark.read.parquet(s"$dir/artifact/pages").count()
    ingest(Seq(blob(3L,
      rec("https://a.example/p0#f", Seq()),
      rec("https://b.example/p2?utm_s=1", Seq()),
      rec("https://c.example/p3", Seq("https://q.example/l1",
        "https://q.example/l3"))))
      .toDF("doc_id", "payload"), 2L)
    assert(spark.read.parquet(s"$dir/artifact/pages").count() == pagesCount)
    assert(frontierSet() == f1)
  }
}
