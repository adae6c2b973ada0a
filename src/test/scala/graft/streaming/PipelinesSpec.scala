package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import graft.SparkSpec

/** Drives the DWD/DWM/DWS streaming pipelines end-to-end on micro-batches
  * and checks them against their batch equivalents.
  */
class PipelinesSpec extends SparkSpec {

  private val goodLog =
    """{"common":{"mid":"mid_1","is_new":"1","vc":"v2.1","ch":"web","ar":"110000"},
      |"page":{"page_id":"good_detail","last_page_id":null,"item":"sku_7","item_type":"sku_id","during_time":4200},
      |"displays":[{"item":"sku_3","item_type":"sku_id","order":1},{"item":"sku_9","item_type":"sku_id","order":2}],
      |"ts":1700000001000}""".stripMargin.replaceAll("\n", "")
  private val startLogLine =
    """{"common":{"mid":"mid_2","is_new":"1","vc":"v2.1","ch":"app","ar":"310000"},
      |"start":{"entry":"icon","loading_time":1200},"ts":1700000002000}"""
      .stripMargin.replaceAll("\n", "")
  private val dirtyLine = "{not json at all"

  test("LogFanOut: dirty split + start/display/page routing + display page_id injection") {
    import spark.implicits._
    val raw = Seq(goodLog, startLogLine, dirtyLine).toDF("value")
    val (clean, dirty) = LogFanOut.parse(raw)
    assert(dirty.count() == 1 && clean.count() == 2)
    val starts = LogFanOut.startLog(clean).as[String].collect()
    assert(starts.length == 1 && starts.head.contains("\"entry\":\"icon\""))
    val displays = LogFanOut.displayLog(clean).as[String].collect()
    assert(displays.length == 2 &&
      displays.forall(_.contains("\"page_id\":\"good_detail\"")))
    val pages = LogFanOut.pageLog(clean).as[String].collect()
    assert(pages.length == 1 && pages.head.contains("\"page_id\":\"good_detail\""))
  }

  test("LogFanOut.runWithState writes the start, display and page sinks once per " +
       "batch; dirty rows reach none") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("fanout").toString
    Seq(goodLog, startLogLine, dirtyLine).toDF("value").coalesce(1)
      .write.mode("overwrite").text(s"$dir/in")
    val calls = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long)]()
    def sink(name: String) = (df: org.apache.spark.sql.DataFrame) =>
      calls.add(name -> df.count()): Unit
    val q = LogFanOut.runWithState(spark, FileChannel(s"$dir/in"),
      Seq("start", "display", "page").map(n => n -> sink(n)).toMap, s"$dir/ckpt")
    try q.processAllAvailable() finally q.stop()
    import scala.jdk.CollectionConverters._
    assert(calls.asScala.toSeq.sorted ==
      Seq("display" -> 2L, "page" -> 1L, "start" -> 1L), calls.toString)
  }

  test("LogFanOut.runWithState: is_new correction persists across micro-batches") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("fanout_state").toString
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$dir/in"))
    val pages = scala.collection.mutable.ArrayBuffer.empty[String]
    val q = LogFanOut.runWithState(spark, FileChannel(s"$dir/in"),
      Map("page" -> (df => pages ++= df.as[String].collect())),
      s"$dir/ckpt")
    try {
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/in/w1.json"), goodLog)
      q.processAllAvailable()
      // same mid again in a LATER batch, still claiming is_new=1
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/in/w2.json"),
        goodLog.replace("1700000001000", "1700000009000"))
      q.processAllAvailable()
    } finally q.stop()
    val flags = pages.sorted.map(p =>
      (if (p.contains("1700000001000")) 1 else 2) -> p.contains("\"is_new\":\"1\""))
    assert(flags.toSet == Set(1 -> true, 2 -> false),
      s"second batch should be corrected to returning: $pages")
  }

  test("DbSplit: CDC envelopes route to kafka facts (dynamic topic) and dim upserts " +
    "with column allow-lists") {
    import spark.implicits._
    val envelopes = Seq(
      """{"database":"gmall","tableName":"order_info","data":{"id":"1","total":"9.90","secret":"x"},"before":{},"type":"insert"}""",
      """{"database":"gmall","tableName":"base_trademark","data":{"id":"7","tm_name":"apple","junk":"y"},"before":{},"type":"insert"}""",
      """{"database":"gmall","tableName":"order_info","data":{"id":"2"},"before":{"id":"2"},"type":"delete"}""",
      """{"database":"gmall","tableName":"unconfigured","data":{"id":"3"},"before":{},"type":"insert"}"""
    ).toDF("value")
    val config = Seq(
      ("order_info", "insert", "kafka", "dwd_order_info", "id,total", "id", null: String),
      ("base_trademark", "insert", "hbase", "dim_base_trademark", "id,tm_name", "id", null: String)
    ).toDF("sourceTable", "operateType", "sinkType", "sinkTable", "sinkColumns", "sinkPk", "sinkExtend")
    val routed = DbSplit.route(DbSplit.parse(envelopes), config)
    val facts = DbSplit.kafkaFacts(routed).collect()
    assert(facts.length == 1)
    assert(facts.head.getString(0) == "dwd_order_info")
    val payload = facts.head.getString(1)
    assert(payload.contains("\"total\":\"9.90\"") && !payload.contains("secret"))
    val dims = DbSplit.dimUpserts(routed).collect()
    assert(dims.length == 1 && dims.head.getString(0) == "dim_base_trademark" &&
      dims.head.getString(1) == "7")
  }

  test("J1 streaming interval join matches the batch join on real tables (sf0.001)") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val o = graft.Tables.orders(spark, sf("sf0.001"))
      .select("o_orderkey", "o_orderdate", "o_totalprice")
    val li = graft.Tables.lineitem(spark, sf("sf0.001"))
      .select("l_orderkey", "l_linenumber", "l_shipdate", "l_extendedprice")
    val memO = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val memL = MemoryStream[(Long, Int, java.sql.Timestamp, Double)]
    val so = memO.toDF().toDF("o_orderkey", "o_orderdate", "o_totalprice")
    val sl = memL.toDF().toDF("l_orderkey", "l_linenumber", "l_shipdate", "l_extendedprice")
    val joined = WidePipelines.intervalJoin(so, sl,
      "o_orderkey", "l_orderkey", "o_orderdate", "l_shipdate", "0 seconds", "60 days")
    val q = joined.writeStream.format("memory").queryName("j1out")
      .outputMode(OutputMode.Append).start()
    try {
      memO.addData(o.as[(Long, java.sql.Timestamp, Double)].collect().toIndexedSeq)
      memL.addData(li.as[(Long, Int, java.sql.Timestamp, Double)].collect().toIndexedSeq)
      q.processAllAvailable()
      val got = spark.table("j1out").count()
      val expected = li.join(o, $"l_orderkey" === $"o_orderkey" &&
        $"l_shipdate" >= $"o_orderdate" &&
        $"l_shipdate" <= $"o_orderdate" + expr("INTERVAL 60 DAYS")).count()
      assert(got == expected && got > 0)
    } finally q.stop()
  }

  test("A1 streaming windowed agg (append mode) matches batch agg and drops late data") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String, Long, Double)]
    val cols = Seq("o_et", "province_name", "order_id", "split_total_amount")
    val q = graft.apps.Apps.provinceStats(mem.toDF().toDF(cols: _*), watermark = "2 seconds")
      .writeStream.format("memory").queryName("a1out")
      .outputMode(OutputMode.Append).start()
    def t(s: Long) = new java.sql.Timestamp(s * 1000L)
    val onTime = Seq((t(5), "beijing", 1L, 1.00), (t(7), "beijing", 2L, 2.00),
      (t(12), "shanghai", 1L, 3.00), (t(25), "beijing", 3L, 4.00))
    try {
      mem.addData(onTime.take(3))
      q.processAllAvailable()
      // watermark now 12-2=10s: window [0,10) closes and emits
      mem.addData(onTime(3))
      q.processAllAvailable()
      // late event for the closed [0,10) window: must be dropped
      mem.addData((t(4), "beijing", 9L, 99.00))
      q.processAllAvailable()
      mem.addData((t(60), "shanghai", 4L, 5.00)) // push watermark, close remaining
      q.processAllAvailable()
      val rows = spark.table("a1out")
        .select("stt", "province_name", "order_amount", "order_count")
        .as[(String, String, Double, Long)].collect().toSet
      assert(rows.contains(("1970-01-01 00:00:00", "beijing", 3.00, 2L)))
      assert(!rows.exists { case (stt, p, _, n) =>
        stt == "1970-01-01 00:00:00" && p == "beijing" && n == 3L }) // late row not re-counted
      assert(rows.contains(("1970-01-01 00:00:10", "shanghai", 3.00, 1L)))
      // every window the watermark closed equals the batch agg of the on-time rows
      val batch = graft.apps.Apps.provinceStats(onTime.toDF(cols: _*))
        .select("stt", "province_name", "order_amount", "order_count")
        .as[(String, String, Double, Long)].collect().toSet
      assert(rows == batch, s"stream $rows != batch $batch")
    } finally q.stop()
  }

  test("streaming LSH ingest: batch-2 near-dup of a batch-1 doc caught, artifact grows linearly") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("lsh_ingest").toString
    val base = "the quick brown fox jumps over the lazy dog and then runs far away into the quiet woods tonight"
    val nearDup = base.replace("tonight", "today") // high shingle overlap
    val unrelated1 = "completely different subject matter about spark sql physical planning and shuffle exchanges"
    val unrelated2 = "yet another unrelated document mentioning database storage formats and columnar encodings"
    val mem = MemoryStream[(Long, String)]
    val q = mem.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch(graft.llm.Dedup.lshIngestBatch(s"$dir/artifact") _)
      .option("checkpointLocation", s"$dir/ckpt").start()
    try {
      mem.addData((1L, base), (2L, unrelated1))
      q.processAllAvailable()
      mem.addData((3L, nearDup), (4L, unrelated2))
      q.processAllAvailable()
    } finally q.stop()
    val matches = spark.read.parquet(s"$dir/artifact/matches")
      .select($"d1", $"d2", $"est_jaccard").as[(Long, Long, Double)].collect().toSeq
    assert(matches.map(m => (m._1, m._2)) == Seq((1L, 3L)),
      s"expected exactly the cross-batch near-dup pair, got $matches")
    assert(matches.head._3 >= 0.7)
    // artifact growth is linear: one signature row per ingested doc,
    // partitioned by the batch that ingested it
    val sigs = spark.read.parquet(s"$dir/artifact/sigs")
    assert(sigs.count() == 4)
    assert(sigs.select($"batch_id".cast("long")).distinct().as[Long].collect().toSet == Set(0L, 1L))
    // a replayed micro-batch (restart re-running the last epoch) is a no-op
    graft.llm.Dedup.lshIngestBatch(s"$dir/artifact")(
      Seq((3L, nearDup), (4L, unrelated2)).toDF("doc_id", "text"), 1L)
    assert(spark.read.parquet(s"$dir/artifact/sigs").count() == 4)
    assert(spark.read.parquet(s"$dir/artifact/matches").count() == 1)
  }

  test("streaming LSH ingest recovers every batch-verified near-dup pair (sf0.01, two batches)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("lsh_ingest_xval").toString
    val docs = graft.Tables.documents(spark, sf("sf0.01")).select("doc_id", "text")
    // the ground truth: the batch path's verified (exact-jaccard >= 0.8) pairs
    val expected = graft.llm.Dedup.minhashLshPairs(docs)
      .select($"d1", $"d2").as[(Long, Long)].collect().toSet
    assert(expected.nonEmpty)
    // ingest the same corpus as two micro-batches split by doc_id parity.
    // est_jaccard (matching-minhash fraction, 24 hashes) is unbiased for
    // jaccard but has ~0.08 std at j=0.8, so the spec ingests with a 0.6
    // agreement floor — the two-tier contract: the stream flags
    // candidates, exact verification belongs to batch compaction
    val ingest = graft.llm.Dedup.lshIngestBatch(s"$dir/artifact", minAgreement = 0.6) _
    ingest(docs.filter($"doc_id" % 2 === 0), 0L)
    ingest(docs.filter($"doc_id" % 2 === 1), 1L)
    val matches = spark.read.parquet(s"$dir/artifact/matches")
      .select($"d1", $"d2").as[(Long, Long)].collect().toSet
    val missed = expected -- matches
    assert(missed.isEmpty,
      s"streaming ingest missed ${missed.size} of ${expected.size} batch-verified pairs: $missed")
  }

  test("streaming image-dedup ingest: cross-batch dHash twins caught " +
       "against the persisted hash artifact; undecodable skipped; " +
       "replay no-op") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("img_ingest").toString
    // 2k/2k+1 are sub-luma-perturbed twins; every twin pair crosses the
    // even/odd batch split, so all catches go through the HISTORY join
    val docs = (0L to 7L).toDF("doc_id")
    val media = graft.llm.Multimodal.syntheticBmpImages(docs)
      .localCheckpoint(true)
    // ground truth: the batch path's exact-hamming pairs
    val expected = graft.llm.Dedup.imageNearDupPairs(media, "doc_id", "payload")
      .select($"d1", $"d2").as[(Long, Long)].collect().toSet
    assert(expected.nonEmpty, "fixture must contain near-dup twins")
    val ingest = graft.llm.Dedup.imageIngestBatch(s"$dir/artifact") _
    ingest(media.filter($"doc_id" % 2 === 0), 0L)
    ingest(media.filter($"doc_id" % 2 === 1), 1L)
    val got = spark.read.parquet(s"$dir/artifact/matches")
      .select($"d1", $"d2").as[(Long, Long)].collect().toSet
    assert(got == expected,
      s"ingest must recover exactly the batch pairs: got $got want $expected")
    // artifact growth: one hash row per decodable image, batch-keyed
    val hashes = spark.read.parquet(s"$dir/artifact/hashes")
    assert(hashes.count() == 8)
    assert(hashes.select($"batch_id".cast("long")).distinct()
      .as[Long].collect().toSet == Set(0L, 1L))
    // an undecodable payload contributes nothing (null dHash drops out)
    ingest(Seq((100L, "not an image".getBytes)).toDF("doc_id", "payload"), 2L)
    assert(spark.read.parquet(s"$dir/artifact/hashes").count() == 8)
    // a replayed micro-batch (restart re-running the last epoch) is a no-op
    ingest(media.filter($"doc_id" % 2 === 1), 1L)
    assert(spark.read.parquet(s"$dir/artifact/hashes").count() == 8)
    assert(spark.read.parquet(s"$dir/artifact/matches")
      .select($"d1", $"d2").as[(Long, Long)].collect().toSet == expected)
  }

  test("streaming crawl ingest: WARC blobs split per batch, canonical-" +
       "URL dedup within and across batches, .warc.gz accepted, " +
       "replay no-op") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("crawl_ingest").toString
    def rec(uri: String, html: String): String =
      s"WARC/1.0\r\nWARC-Target-URI: $uri\r\nContent-Type: text/html\r\n" +
        s"Content-Length: ${html.length}\r\n\r\n$html\r\n\r\n"
    def gz(s: String): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val g = new java.util.zip.GZIPOutputStream(bos)
      g.write(s.getBytes("ISO-8859-1")); g.close()
      bos.toByteArray
    }
    // batch 0: doc 1 carries two records; doc 2's record canonicalizes
    // to the SAME key as doc 1's first (case + utm param + fragment
    // differences) — within-batch keep-first must drop it. The /p1
    // page links to /p2 (fetched THIS batch -> not queued) and to
    // c.example/later (unseen -> queued).
    val b0 = Seq(
      (1L, (rec("https://A.example/p1?utm_x=1",
              "<html><body>one <a href=\"/p2\">n</a> " +
                "<a href=\"https://c.example/later\">l</a></body></html>") +
            rec("http://a.example/p2", "<p>two</p>")).getBytes("ISO-8859-1")),
      (2L, rec("https://a.example/p1#frag", "<p>dup in batch</p>")
        .getBytes("ISO-8859-1"))).toDF("doc_id", "payload")
    // batch 1 ships GZIPPED (one member per record): one history dup
    // of a.example/p1 (dropped — its links must NOT count), one new
    // page linking c.example/later again (already queued -> not
    // re-queued) and a brand-new path (queued)
    val b1 = Seq(
      (3L, (gz(rec("HTTPS://a.example:443/p1", "<p>dup in history</p>")) ++
            gz(rec("https://b.example/fresh",
              "<p>three <a href=\"https://c.example/later\">again</a> " +
                "<a href=\"/brand\">b</a></p>")))))
      .toDF("doc_id", "payload")
    val ingest = graft.streaming.CorpusIngest.crawlIngestBatch(s"$dir/artifact") _
    ingest(b0, 0L)
    ingest(b1, 1L)
    val pages = spark.read.parquet(s"$dir/artifact/pages")
    val got = pages.select($"doc_id", $"canon", $"text")
      .as[(Long, String, String)].collect().toSet
    assert(got == Set(
      (1L, "a.example/p1", "one n l"),
      (1L, "a.example/p2", "two"),
      (3L, "b.example/fresh", "three again b")), got.toString)
    // the url artifact carries exactly the kept keys, batch-partitioned
    val urls = spark.read.parquet(s"$dir/artifact/urls")
    assert(urls.select($"canon").as[String].collect().toSet ==
      Set("a.example/p1", "a.example/p2", "b.example/fresh"))
    assert(urls.select($"batch_id".cast("long")).distinct()
      .as[Long].collect().toSet == Set(0L, 1L))
    // the crawl loop: frontier candidates = survivors' outlinks minus
    // fetched minus already-queued, per batch
    val frontier = spark.read.parquet(s"$dir/artifact/frontier")
      .select($"canon", $"batch_id".cast("long"))
      .as[(String, Long)].collect().toSet
    assert(frontier == Set(
      ("c.example/later", 0L), ("b.example/brand", 1L)), frontier.toString)
    // a replayed micro-batch (restart re-running the last epoch) is a no-op
    ingest(b1, 1L)
    assert(spark.read.parquet(s"$dir/artifact/pages").count() == 3)
    assert(spark.read.parquet(s"$dir/artifact/urls").count() == 3)
    assert(spark.read.parquet(s"$dir/artifact/frontier").count() == 2)
    // a blob with no parseable record contributes nothing
    ingest(Seq((9L, "garbage".getBytes)).toDF("doc_id", "payload"), 2L)
    assert(spark.read.parquet(s"$dir/artifact/pages").count() == 3)
  }

  test("streaming cluster maintenance: CC over the growing match artifact absorbs each batch") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("lsh_cc").toString
    val base = "the quick brown fox jumps over the lazy dog and then runs far away into the quiet woods tonight"
    val dupB = base.replace("tonight", "today")
    val dupC = base.replace("tonight", "tomorrow") // near-dup of BOTH
    val ingest = graft.llm.Dedup.lshIngestBatch(s"$dir/artifact") _
    ingest(Seq((1L, base)).toDF("doc_id", "text"), 0L)
    ingest(Seq((2L, dupB)).toDF("doc_id", "text"), 1L)
    ingest(Seq((3L, dupC)).toDF("doc_id", "text"), 2L)
    val matches = spark.read.parquet(s"$dir/artifact/matches")
    // pair discovery is incremental (each batch joined history once);
    // cluster RESOLUTION re-runs over the accumulated pair artifact —
    // pairs only ever grow, so each re-resolution refines the last
    val clusters = graft.llm.Dedup.connectedComponents(matches)
      .select($"doc_id", $"cluster_id").as[(Long, Long)].collect().toMap
    assert(clusters == Map(1L -> 1L, 2L -> 1L, 3L -> 1L),
      s"transitive chain across three micro-batches must be one cluster: $clusters")
  }

  test("sampling ops are stateless: streaming application equals batch, batch to batch") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val docs = graft.Tables.documents(spark, sf("sf0.001"))
      .select("doc_id", "lang", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    val mem = MemoryStream[(Long, String, String)]
    val collected = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    val q = mem.toDF().toDF("doc_id", "lang", "text").writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        // per-row hash decisions need no state: the same op body runs
        // unchanged on a micro-batch
        val out = graft.llm.Sampling.deterministicSplit(
          graft.llm.Sampling.stratifiedSample(df, "doc_id", "lang",
            Map("en" -> 0.25, "zh" -> 0.5)),
          "doc_id", Seq("train" -> 0.75, "val" -> 0.125, "test" -> 0.125))
        collected ++= out.select("doc_id", "split").collect()
          .map(r => (r.getLong(0), r.getString(1)))
        ()
      }.start()
    try {
      val (b1, b2) = docs.splitAt(docs.size / 2)
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    val batch = graft.llm.Sampling.deterministicSplit(
      graft.llm.Sampling.stratifiedSample(
        graft.Tables.documents(spark, sf("sf0.001")), "doc_id", "lang",
        Map("en" -> 0.25, "zh" -> 0.5)),
      "doc_id", Seq("train" -> 0.75, "val" -> 0.125, "test" -> 0.125))
      .select("doc_id", "split").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(collected.toSet == batch,
      "streamed sampling decisions must equal the batch run row-for-row")
    assert(collected.size == collected.toSet.size, "no row sampled twice across batches")
  }

  test("CorpusIngest end-to-end: gate, cross-batch near-dup drop, exactly-once shards") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("corpus_ingest").toString
    // 'the/a/of/and' markers make lang_pred=en; the short doc fails the
    // (lowered) quality floor; the near-dup of doc 1 arrives in batch 2
    val base = "the quick brown fox jumps over a lazy dog and the dog runs off into the woods for the night"
    val dupOfBase = base.replace("night", "morning")
    val other = "the cat sat on a mat and the mat was warm of course it was warm in the sun all day"
    val junk = "zzz"
    val mem = MemoryStream[(Long, String)]
    val q = graft.streaming.CorpusIngest.run(
      mem.toDF().toDF("doc_id", "text"),
      s"$dir/artifact", s"$dir/out", s"$dir/ckpt", minQuality = 0.1)
    try {
      mem.addData((1L, base), (2L, junk))
      q.processAllAvailable()
      mem.addData((3L, dupOfBase), (4L, other))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.read.parquet(s"$dir/out")
      .select($"batch_id".cast("long"), $"doc_id").as[(Long, Long)].collect().toSet
    // junk failed the gate; the batch-2 near-dup of doc 1 was dropped in
    // favor of its earlier canonical; everything else shipped
    assert(out == Set((0L, 1L), (1L, 4L)), s"unexpected corpus: $out")
    // arrival-order canonical: a LOWER-id near-dup arriving after its
    // higher-id twin shipped must yield (the shard file cannot be
    // retracted) — the pairwise min-id rule alone would wrongly emit it
    graft.streaming.CorpusIngest.ingestBatch(s"$dir/artifact", s"$dir/out",
      minQuality = 0.1)(
      Seq((0L, base.replace("night", "evening"))).toDF("doc_id", "text"), 2L)
    val afterLate = spark.read.parquet(s"$dir/out")
      .select($"doc_id").as[Long].collect().toSet
    assert(!afterLate.contains(0L),
      s"late lower-id near-dup must yield to its shipped twin: $afterLate")
    // a replayed micro-batch (restart re-running the last epoch) is a
    // no-op on state AND output
    graft.streaming.CorpusIngest.ingestBatch(s"$dir/artifact", s"$dir/out",
      minQuality = 0.1)(Seq((3L, dupOfBase), (4L, other)).toDF("doc_id", "text"), 1L)
    val replayed = spark.read.parquet(s"$dir/out")
      .select($"batch_id".cast("long"), $"doc_id").as[(Long, Long)].collect().toSet
    assert(replayed == out, "replay must be idempotent")
    // 4 signatures (docs 1, 3, 4 and the late 0): the sub-3-token junk
    // doc has no shingles, so it never enters the near-dup sketch state;
    // the late near-dup is dropped from the CORPUS but its sketch stays
    // (future arrivals must still match against it)
    assert(spark.read.parquet(s"$dir/artifact/sigs").count() == 4)
    // a partner that merely APPEARED earlier but never shipped (here:
    // quality-gated out) must NOT suppress the new arrival — otherwise
    // both members of the pair are lost from the corpus
    val gatedBase = "a storm of rain and wind swept over the hills of the north and the valley of stones all day"
    graft.streaming.CorpusIngest.ingestBatch(s"$dir/artifact", s"$dir/out",
      minQuality = 0.99)( // floor nothing passes: doc 20 records sigs, never ships
      Seq((20L, gatedBase)).toDF("doc_id", "text"), 3L)
    graft.streaming.CorpusIngest.ingestBatch(s"$dir/artifact", s"$dir/out",
      minQuality = 0.1)(
      Seq((21L, gatedBase.replace("day", "week"))).toDF("doc_id", "text"), 4L)
    val survivors = spark.read.parquet(s"$dir/out")
      .select($"doc_id").as[Long].collect().toSet
    assert(!survivors.contains(20L), "the gated doc itself must not ship")
    assert(survivors.contains(21L),
      s"a near-dup of a never-shipped partner must survive: $survivors")
    // shard positions are batch-local and contiguous per (batch, shard)
    val pos = spark.read.parquet(s"$dir/out")
      .groupBy($"batch_id", $"shard").agg(count(lit(1)).as("n"), max($"shard_pos").as("m"))
      .collect()
    pos.foreach(r =>
      assert(r.getLong(2) == r.getLong(3), s"non-contiguous shard positions: $r"))
  }

  test("dim enrichment uses broadcast joins (plan check) and fills dim columns") {
    val li = graft.Tables.lineitem(spark, sf("sf0.001")).limit(100)
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"))
    val part = graft.Tables.part(spark, sf("sf0.001"))
      .select(col("p_partkey").as("id"), col("p_name"))
    val supp = graft.Tables.supplier(spark, sf("sf0.001"))
      .select(col("s_suppkey").as("id"), col("s_name"))
    val enriched = WidePipelines.enrich(li,
      Seq(("l_partkey", "part_", part), ("l_suppkey", "supp_", supp)))
    val plan = enriched.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"))
    assert(enriched.filter(col("part_p_name").isNotNull).count() == 100)
    assert(enriched.filter(col("supp_s_name").isNotNull).count() == 100)
  }
}
