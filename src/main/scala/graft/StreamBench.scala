package graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming._

/** Micro-bench for the 19 structured-streaming operators (r14 VERDICT
  * "next round" #8: they were spec-verified but carried no perf number).
  * Each operator is driven through a MemoryStream with a DETERMINISTIC
  * synthetic input of a fixed row budget (scaled by
  * `SPARK_GRAFT_STREAM_SCALE`, default 1.0), fed in 4 micro-batches,
  * written to the streaming noop sink, and timed end-to-end
  * (processAllAvailable). Two passes per operator, best kept — the Bench
  * convention (pass 1 pays codegen/state-store setup).
  *
  * Deliberately a STANDALONE main, not entries in [[Bench]]'s `queries`
  * map: the driver compares Bench totals round-over-round, and folding
  * ~20 new stream timings into `queries` would inflate the r15 total
  * against r14 by construction. The artifact is its own one-line JSON
  * (detail first, compact total last — Bench's stdout discipline).
  *
  * Session contract mirrors Bench: `local[$SPARK_GRAFT_CPUS]`, shuffle
  * partitions = cpus, `$SPARK_GRAFT_SF_DIR` only for the one operator
  * that enriches against a batch table (EnrichStream / customer).
  */
object StreamBench {

  private val Base = 1704067200000000000L // 2024-01-01 ns: events at the
  // initial 0 watermark would be dropped as late (CLAUDE.md)
  private val HourNs = 3600000000000L
  private val HourUs = 3600000000L

  /** Remove a temp directory and everything under it. */
  private def deleteTree(dir: String): Unit = {
    val paths = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try paths.sorted(java.util.Comparator.reverseOrder())
      .forEach(p => java.nio.file.Files.deleteIfExists(p))
    finally paths.close()
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val scale = sys.env.getOrElse("SPARK_GRAFT_STREAM_SCALE", "1.0").toDouble
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._

    val rowsN = (40000 * scale).toInt // numeric/event-grain operators
    val docsN = (4000 * scale).toInt // text-grain operators (per-doc kernels)

    // deterministic synthetic corpora (no Random: replays identically)
    def docText(i: Int, vocab: Int): String =
      (0 until 12).map(j => s"w${(i * 31 + j * 7) % vocab}").mkString(" ")

    // each feed is chunked into 4 micro-batches; the driver loop times
    // query start -> last processAllAvailable. `mode` is the output mode the
    // operator's spec runs it in: a watermarked aggregation also starts in
    // Append, but then emits only closed windows, so probing for the first
    // accepted mode would time different emission semantics.
    def run2(name: String, rows: Int, mode: OutputMode)(
        build: () => (Seq[() => Unit], DataFrame)): (String, Int, Double) = {
      def once(): Double = {
        val (feeds, out) = build()
        val ckpt = java.nio.file.Files
          .createTempDirectory(s"graft_sb_$name").toString
        val t0 = System.nanoTime()
        val query = out.writeStream.format("noop")
          .option("checkpointLocation", ckpt).outputMode(mode).start()
        try {
          feeds.foreach { feed => feed(); query.processAllAvailable() }
        } finally { query.stop(); deleteTree(ckpt) }
        (System.nanoTime() - t0) / 1e9
      }
      val sec = math.min(once(), once())
      System.err.println(f"[streambench] $name%-28s $rows%7d rows  $sec%7.2f s")
      (name, rows, sec)
    }

    def chunks[T](xs: Seq[T]): Seq[Seq[T]] = {
      val step = math.max(1, xs.size / 4)
      xs.grouped(step).toSeq
    }

    def feedsOf[T: org.apache.spark.sql.Encoder](
        in: MemoryStream[T], xs: Seq[T]): Seq[() => Unit] =
      chunks(xs).map(c => () => { in.addData(c); () })

    val results = Seq.newBuilder[(String, Int, Double)]

    // ---- document-grain operators -------------------------------------
    def docRows(n: Int, dupEvery: Int): Seq[(Long, Long, String)] =
      (0 until n).map { i =>
        val id = if (dupEvery > 0 && i % dupEvery == 0) i / dupEvery else i
        (Base + i.toLong * 1000000L, i.toLong, docText(id, 997))
      }

    results += run2("dedup_fingerprint", docsN, OutputMode.Append()) { () =>
      val in = MemoryStream[(Long, Long, String)]
      (feedsOf(in, docRows(docsN, 3)),
        DedupStream.dedupByFingerprint(in.toDF().toDF("ts", "doc_id", "text")))
    }
    results += run2("topk_tokens", docsN, OutputMode.Update()) { () =>
      val in = MemoryStream[(Long, String)]
      val rows = (0 until docsN).map(i => (i.toLong, docText(i, 499)))
      (feedsOf(in, rows),
        TopKStream.attach(in.toDF().toDF("doc_id", "text")).toDF())
    }
    results += run2("kmv_distinct", docsN, OutputMode.Update()) { () =>
      val in = MemoryStream[(Long, String, String)]
      val rows = (0 until docsN).map(i =>
        (i.toLong, s"src${i % 4}", docText(i, 4999)))
      (feedsOf(in, rows),
        KmvStream.attach(in.toDF().toDF("doc_id", "source", "text")).toDF())
    }
    results += run2("neardup_minhash", docsN, OutputMode.Append()) { () =>
      val in = MemoryStream[(Long, Long, String)]
      val rows = (0 until docsN).map(i =>
        (i.toLong, Base / 1000L + i.toLong * 1000L, docText(i % (docsN / 2), 997)))
      (feedsOf(in, rows),
        NearDupStream.attach(in.toDF().toDF("doc_id", "ts", "text")).toDF())
    }
    results += run2("neardup_simhash", docsN, OutputMode.Append()) { () =>
      val in = MemoryStream[(Long, Long, String)]
      val rows = (0 until docsN).map(i =>
        (i.toLong, Base / 1000L + i.toLong * 1000L, docText(i % (docsN / 2), 997)))
      (feedsOf(in, rows),
        NearDupStream.attachSimHash(in.toDF().toDF("doc_id", "ts", "text")).toDF())
    }
    results += run2("span_screen", docsN, OutputMode.Append()) { () =>
      val in = MemoryStream[(Long, Long, String)]
      val rows = (0 until docsN).map(i =>
        (i.toLong, Base / 1000L + i.toLong * 1000L, docText(i % (docsN / 2), 997)))
      (feedsOf(in, rows),
        SpanScreenStream.attach(in.toDF().toDF("doc_id", "ts", "text")).toDF())
    }
    results += run2("decontam_screen", docsN, OutputMode.Append()) { () =>
      val in = MemoryStream[(Long, String)]
      val evalDocs = (0 until 200).map(i => (i.toLong, docText(i, 997)))
        .toDF("doc_id", "text")
      val rows = (0 until docsN).map(i =>
        (1000L + i, docText(i % 400, 997)))
      (feedsOf(in, rows),
        DecontamStream.screen(in.toDF().toDF("doc_id", "text"), evalDocs))
    }
    results += run2("sample_weighted", rowsN, OutputMode.Update()) { () =>
      val in = MemoryStream[(Long, Double)]
      val rows = (0 until rowsN).map(i =>
        (i.toLong, (i % 17).toDouble / 4.0))
      (feedsOf(in, rows),
        SampleStream.attach(in.toDF().toDF("doc_id", "log_weight")).toDF())
    }

    // ---- event-grain operators ----------------------------------------
    def evRows(n: Int): Seq[(Long, Long, Double)] =
      (0 until n).map(i =>
        (Base + (i.toLong * 7919) % (48 * HourNs), (i % 500).toLong,
          (i % 97).toDouble / 3.0))

    results += run2("hourly_aggregate", rowsN, OutputMode.Complete()) { () =>
      val in = MemoryStream[(Long, Long, Double)]
      (feedsOf(in, evRows(rowsN)),
        EventsStream.hourlyAggregate(in.toDF().toDF("ts", "user_id", "value")))
    }
    results += run2("enrich_by_segment", rowsN, OutputMode.Complete()) { () =>
      val in = MemoryStream[(Long, Long, Double)]
      val users = (0 until 500).map(i =>
        (i.toLong, if (i % 3 == 0) "gold" else "silver")).toDF("user_id", "segment")
      (feedsOf(in, evRows(rowsN)),
        EventsStream.enrichedBySegment(
          in.toDF().toDF("ts", "user_id", "value"), users))
    }
    results += run2("enrich_customer", rowsN, OutputMode.Append()) { () =>
      val in = MemoryStream[(Long, Long, Long, String, Double)]
      val customers = spark.read.parquet(s"$sfDir/customer.parquet")
      val rows = (0 until rowsN).map(i =>
        (i.toLong, Base + i.toLong * 1000000L, (i % 1500).toLong + 1L,
          if (i % 3 == 0) "view" else "click", (i % 11).toDouble))
      (feedsOf(in, rows),
        EnrichStream.enrich(in.toDF()
          .toDF("event_id", "ts", "user_id", "event_type", "value"), customers))
    }
    results += run2("sessionize", rowsN, OutputMode.Append()) { () =>
      val in = MemoryStream[(Long, Long, Double)]
      (feedsOf(in, evRows(rowsN)),
        SessionizeStream.attach(
          in.toDF().toDF("ts", "user_id", "value")).toDF())
    }
    results += run2("funnel", rowsN, OutputMode.Append()) { () =>
      val in = MemoryStream[(Long, Long, String)]
      val steps = Seq("view", "cart", "purchase")
      val rows = (0 until rowsN).map(i =>
        (Base + (i / 3).toLong * 60000000000L, (i % 400).toLong, steps(i % 3)))
      (feedsOf(in, rows), FunnelStream.attach(
        in.toDF().toDF("ts", "user_id", "event_type").as[(Long, Long, String)]).toDF())
    }
    results += run2("watermark_audit", rowsN, OutputMode.Append()) { () =>
      val in = MemoryStream[(Long, String, Long, Long)]
      val rows = (0 until rowsN).map { i =>
        // ~1% late arrivals: ts steps forward, every 100th dips back 2h
        val ts = Base + i.toLong * 100000000L -
          (if (i % 100 == 99) 2 * HourNs else 0L)
        ((i % 300).toLong, if (i % 2 == 0) "view" else "click", i.toLong, ts)
      }
      (feedsOf(in, rows), WatermarkAuditStream.attach(
        in.toDF().toDF("user_id", "event_type", "event_id", "ts")).toDF())
    }
    results += run2("cusum_monitor", rowsN, OutputMode.Append()) { () =>
      val in = MemoryStream[(String, Long, Long, Double)]
      val rows = (0 until rowsN).map(i =>
        (s"m${i % 8}", i.toLong, Base / 1000L + i.toLong * 100000L,
          (i % 13).toDouble / 2.0))
      val means = (0 until 8).map(j => s"m$j" -> 3.0).toMap
      (feedsOf(in, rows), CusumStream.attach(
        in.toDF().toDF("event_type", "event_id", "us", "value")
          .select(col("event_type"), col("event_id"),
            (col("us") * 1000).as("ts"), col("value")),
        means, retireUs = 3650L * 86400000000L).toDF())
    }
    results += run2("sprt_monitor", rowsN, OutputMode.Update()) { () =>
      val in = MemoryStream[SprtStream.Trial]
      val rows = (0 until rowsN).map(i =>
        SprtStream.Trial(s"arm${i % 4}", if (i % 5 == 0) 1L else 0L))
      (feedsOf(in, rows), SprtStream.monitor(in.toDS()).toDF())
    }

    // ---- two-sided / keyed-join operators ------------------------------
    results += run2("join_view_click", rowsN, OutputMode.Append()) { () =>
      val vIn = MemoryStream[(Long, Long, Long)]
      val cIn = MemoryStream[(Long, Long, Long)]
      val views = (0 until rowsN / 2).map(i =>
        (Base + i.toLong * 10000000L, (i % 700).toLong, i.toLong))
      val clicks = (0 until rowsN / 2).map(i =>
        (Base + i.toLong * 10000000L + 5000000L, (i % 700).toLong,
          100000L + i))
      val out = JoinStream.viewClickAttribution(
        vIn.toDF().toDF("ts", "user_id", "event_id"),
        cIn.toDF().toDF("ts", "user_id", "event_id"))
      val feeds = chunks(views).zip(chunks(clicks)).map { case (v, c) =>
        () => { vIn.addData(v); cIn.addData(c); () }
      }
      (feeds, out)
    }
    results += run2("asof_enrich", rowsN, OutputMode.Append()) { () =>
      val fIn = MemoryStream[(Long, Long, Long)]
      val ftIn = MemoryStream[(Long, Long, Double)]
      val facts = (0 until rowsN / 2).map(i =>
        ((i % 300).toLong, i.toLong, Base / 1000L + i.toLong * 10000L))
      val feats = (0 until rowsN / 2).map(i =>
        ((i % 300).toLong, Base / 1000L + i.toLong * 10000L - 5000L,
          (i % 7).toDouble))
      val out = AsOfStream.attach(
        fIn.toDF().toDF("key", "event_id", "ts_us"),
        ftIn.toDF().toDF("key", "ts_us", "value")).toDF()
      val feeds = chunks(facts).zip(chunks(feats)).map { case (f, ft) =>
        () => { ftIn.addData(ft); fIn.addData(f); () }
      }
      (feeds, out)
    }
    results += run2("interval_join", rowsN, OutputMode.Append()) { () =>
      val in = MemoryStream[(Long, Int, Long, Long)]
      val rows = (0 until rowsN).map(i =>
        ((i % 300).toLong, i % 2, i.toLong,
          Base / 1000L + (i / 2).toLong * 20000L))
      val both = in.toDF().toDF("key", "side", "row_id", "ts_us")
      val out = IntervalStream.attach(
        both.filter(col("side") === 0).select("key", "row_id", "ts_us"),
        both.filter(col("side") === 1).select("key", "row_id", "ts_us"),
        windowUs = HourUs,
        retireUs = 3650L * 86400000000L).toDF()
      (feedsOf(in, rows), out)
    }
    results += run2("vec_screen", docsN, OutputMode.Append()) { () =>
      val in = MemoryStream[(Long, Long, Seq[Double])]
      val dim = 16
      val cb = (0 until 8).map(c =>
        (c.toLong, (0 until dim).map(j => ((c * 31 + j) % 7).toDouble / 3.0)))
        .toDF("cid", "cv")
      val rows = (0 until docsN).map(i =>
        (i.toLong, Base / 1000L + i.toLong * 1000L,
          (0 until dim).map(j => ((i * 13 + j * 5) % 19).toDouble / 4.0)))
      (feedsOf(in, rows), VecScreenStream.attach(
        in.toDF().toDF("vec_id", "ts", "embedding"), cb).toDF())
    }
    // ExactlyOnceSink.attach returns the STARTED query (foreachBatch sink),
    // so it gets its own timing loop instead of run2's writeStream start
    locally {
      def once(): Double = {
        val in = MemoryStream[(Long, Long, String)]
        val rows = (0 until rowsN).map(i =>
          ((i % 2000).toLong, Base / 1000L + i.toLong * 1000L, s"p$i"))
        val dir = java.nio.file.Files
          .createTempDirectory("graft_sb_eos_tbl").toString
        val ckpt = java.nio.file.Files
          .createTempDirectory("graft_sb_eos_ckpt").toString
        val t0 = System.nanoTime()
        val query = ExactlyOnceSink.attach(
          in.toDF().toDF("key", "ts_us", "payload"), dir, ckpt)
        try chunks(rows).foreach { c =>
          in.addData(c); query.processAllAvailable()
        } finally { query.stop(); deleteTree(dir); deleteTree(ckpt) }
        (System.nanoTime() - t0) / 1e9
      }
      val sec = math.min(once(), once())
      System.err.println(
        f"[streambench] ${"exactly_once_upsert"}%-28s $rowsN%7d rows  $sec%7.2f s")
      results += (("exactly_once_upsert", rowsN, sec))
    }

    val rs = results.result()
    val detail = rs.map { case (n, rows, sec) =>
      f""""$n":{"rows":$rows,"sec":$sec%.3f,"rows_per_sec":${rows / math.max(sec, 1e-9)}%.0f}"""
    }.mkString("{", ",", "}")
    val total = rs.map(_._3).sum
    println(s"""{"metric":"stream_detail","streams":$detail,"scale":$scale,"cpus":$cpus}""")
    println(f"""{"metric":"stream_total","value":$total%.3f,"unit":"sec","n":${rs.size}}""")
    spark.stop()
  }
}
