package perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.sources.GraftTable
import graft.sources.MergeClauses.{MatchedUpdate, NotMatchedInsert}

/** JVM side of the benchmark. `perfbench/run.py` writes a plan file,
  * starts this program, and derives every metric from the records it
  * leaves behind.
  *
  *   run <plan.json>                      one benchmark run
  *   scale <srcDir> <outDir> <cores> <localDir>
  *                                        the x10 layout, generated by
  *                                        graft.tools.ScaleData under
  *                                        this session
  */
object Main {
  def main(args: Array[String]): Unit = {
    args.toList match {
      case "run" :: plan :: Nil => new Runner(new ObjectMapper().readTree(new File(plan))).run()
      case "scale" :: src :: out :: cores :: local :: Nil =>
        session(cores.toInt, local)
        // ScaleData reuses the active session and stops it when done
        graft.tools.ScaleData.main(Array(src, out, "10"))
      case _ =>
        System.err.println("usage: perfbench.Main run <plan.json> | scale <src> <out> <cores> <localDir>")
        System.exit(2)
    }
    System.exit(0)
  }

  def session(cores: Int, localDir: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", localDir)
      .config("spark.sql.warehouse.dir", s"$localDir/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

final class Runner(plan: JsonNode) {
  private val workload = plan.get("workload").asText
  // documents, embeddings and orders come from the sf0.1 layout
  private val data = plan.get("layouts").get("sf01").asText
  private val work = plan.get("work").asText
  private val traced = plan.get("trace").asInt == 1
  private val r = new Recorder(s"$work/records.jsonl")
  private val spans = new Spans(r)
  private val jobs = new JobListener(r)
  private val streams = new StreamListener(r)
  private var spark: SparkSession = _

  private def strs(n: JsonNode): Seq[String] = n.elements.asScala.map(_.asText).toSeq
  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** One timed operation; a failure is recorded and the pass goes on. */
  private def op(pass: Int, name: String, cls: String)(body: => Unit): Unit = {
    val t0 = r.nowUs()
    val err =
      try { spans("op", "op" -> name)(body); "" }
      catch { case e: Throwable =>
        System.err.println(s"[perfbench] $name failed: $e"); e.toString }
    r.rec("op", "pass" -> pass, "name" -> name, "cls" -> cls,
      "start" -> t0, "end" -> r.nowUs(), "ok" -> err.isEmpty, "err" -> err)
  }

  private def action(df: DataFrame, out: String): Unit =
    spans("operators.action")(df.write.mode("overwrite").parquet(out))

  def run(): Unit = {
    HeapPeak.install()
    val t0 = System.nanoTime()
    spark = Main.session(plan.get("cores").asInt, s"$work/spark-local")
    r.rec("setup", "part" -> "session", "s" -> secs(t0))
    r.rec("meta", "spark" -> spark.version, "java" -> sys.props("java.version"),
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "cores" -> spark.sparkContext.defaultParallelism)
    new ObjectMapper().writeValue(new File(s"$work/oracle_sql.json"),
      SparkEntry.oracleSql.asJava)
    val w: Workload = if (workload == "table_write") new TableWrite else new Queries
    (0 until plan.get("setup_rounds").asInt).foreach { i =>
      val t = System.nanoTime()
      w.setupRound(i)
      r.rec("setup", "part" -> "round", "s" -> secs(t))
    }
    val tw = System.nanoTime()
    w.warm()
    r.rec("setup", "part" -> "warm", "s" -> secs(tw))

    HeapPeak.reset()
    val seconds = plan.get("seconds").asDouble
    val minPasses = plan.get("min_passes").asInt
    val maxPasses = plan.get("max_passes").asInt
    val tEnd = System.nanoTime() + (seconds * 1e9).toLong
    var k = 0
    while (k < maxPasses && (k < minPasses || System.nanoTime() < tEnd)) {
      // trace runs alternate untraced and traced passes, so the
      // tracing overhead is measured inside one run
      val tracedPass = traced && k % 2 == 1
      if (tracedPass) {
        spark.sparkContext.addSparkListener(jobs)
        spark.streams.addListener(streams)
        spans.enabled = true
      }
      val p0 = r.nowUs()
      spans("pass")(w.pass(k))
      val p1 = r.nowUs()
      if (tracedPass) {
        spans.enabled = false
        w.traceStats(k)
        jobs.drain(spark.sparkContext, s"perfbench-drain-$k")
        streams.drain()
        spark.sparkContext.removeSparkListener(jobs)
        spark.streams.removeListener(streams)
      }
      r.rec("pass", "pass" -> k, "traced" -> tracedPass, "start" -> p0, "end" -> p1)
      // one full collection after each pass, outside its wall: the
      // heap it leaves is the live set the pass retained
      System.gc()
      HeapPeak.sample()
      k += 1
    }
    r.rec("heap", "peak_mb" -> HeapPeak.get / 1048576.0)
    w.finish(k)
    if (traced) {
      spark.sparkContext.addSparkListener(jobs)
      spans.enabled = true
      w.probes()
      spans.enabled = false
      jobs.drain(spark.sparkContext, "perfbench-drain-probes")
    }
    r.close()
    spark.stop()
  }

  private trait Workload {
    def setupRound(i: Int): Unit
    def warm(): Unit
    def pass(k: Int): Unit
    def traceStats(k: Int): Unit = ()
    def finish(passes: Int): Unit = ()
    def probes(): Unit = ()
  }

  /** File count and bytes of every input table against the plan's
    * manifest: a cheap check that the layout on disk is the pinned one.
    */
  private def verifyInputs(): Unit =
    plan.get("inputs").fields.asScala.foreach { l =>
      val dir = plan.get("layouts").get(l.getKey).asText
      l.getValue.fields.asScala.foreach { t =>
        val f = new File(s"$dir/${t.getKey}.parquet")
        val files = if (f.isFile) Seq(f)
          else Option(f.listFiles()).toSeq.flatten.filter(_.getName.endsWith(".parquet"))
        val got = Seq(files.size.toLong, files.map(_.length).sum)
        val want = strs(t.getValue).map(_.toLong)
        require(got == want, s"input $dir/${t.getKey}: (files, bytes) $got, expected $want")
      }
    }

  /** query: read-only headline operations, each on every layout. */
  private final class Queries extends Workload {
    private val runs = for {
      op <- strs(plan.get("ops")); l <- plan.get("layouts").fieldNames.asScala.toSeq
    } yield s"$op@$l"
    private val orders = plan.get("pass_orders").elements.asScala.map(strs).toIndexedSeq

    def setupRound(i: Int): Unit = verifyInputs()
    def warm(): Unit = runs.foreach(run(-1, _))
    def pass(k: Int): Unit = orders(k % orders.size).foreach(run(k, _))

    private def run(k: Int, opAtLayout: String): Unit = op(k, opAtLayout, "read") {
      val Array(name, layout) = opAtLayout.split("@")
      spark.catalog.clearCache()
      val df = spans("entry.build")(
        SparkEntry.queries(name)(spark, plan.get("layouts").get(layout).asText))
      action(df, s"$work/out/$opAtLayout/p$k")
    }

    /** Each graft SQL function once over this workload's documents or
      * embeddings. Inputs are materialised first, untimed, so a span
      * times the function and its scan of cached rows only.
      */
    override def probes(): Unit = {
      val s = spark
      graft.Tables.documents(s, data)
        .selectExpr("doc_id", "text", "split(text, ' ') AS tokens")
        .createOrReplaceTempView("pb_docs")
      s.sql("SELECT doc_id, shingle_hashes(tokens) AS sh FROM pb_docs")
        .createOrReplaceTempView("pb_sh")
      graft.Tables.embeddings(s, data).createOrReplaceTempView("pb_emb")
      s.sql("SELECT e.vec_id, e.embedding AS a, q.embedding AS b FROM pb_emb e " +
        "CROSS JOIN (SELECT embedding FROM pb_emb ORDER BY vec_id LIMIT 8) q")
        .createOrReplaceTempView("pb_pairs")
      s.sql("SELECT bloom_agg(doc_id) AS bits FROM pb_docs WHERE doc_id % 2 = 0")
        .createOrReplaceTempView("pb_bloom")
      Seq("pb_docs", "pb_sh", "pb_emb", "pb_pairs", "pb_bloom").foreach { v =>
        s.catalog.cacheTable(v); s.table(v).write.format("noop").mode("overwrite").save()
      }
      val calls = Seq(
        "shingle_hashes" -> "SELECT shingle_hashes(tokens) FROM pb_docs",
        "minhash_sig" -> "SELECT minhash_sig(sh) FROM pb_sh",
        "simhash64" -> "SELECT simhash64(tokens) FROM pb_docs",
        "rolling_hash" -> "SELECT rolling_hash(text) FROM pb_docs",
        "gear_chunks" -> "SELECT gear_chunks(cast(text AS binary)) FROM pb_docs",
        "cosine_sim" -> "SELECT cosine_sim(a, b) FROM pb_pairs",
        "bloom_contains" -> "SELECT bloom_contains(b.bits, d.doc_id) FROM pb_docs d CROSS JOIN pb_bloom b",
        "topk_by_score" -> "SELECT label, topk_by_score(cast(element_at(embedding, 1) AS double), vec_id) FROM pb_emb GROUP BY label")
      calls.foreach { case (fn, sql) =>
        spans(s"functions.$fn")(s.sql(sql).write.format("noop").mode("overwrite").save())
      }
      s.catalog.clearCache()
    }
  }

  /** table_write: one seeded write round per pass on one table, plus
    * streaming entries. Every round's versions are recorded for the
    * replay check.
    */
  private final class TableWrite extends Workload {
    private val rounds = plan.get("rounds").elements.asScala.toIndexedSeq
    private val blocks = plan.get("pass_orders").elements.asScala.map(strs).toIndexedSeq
    private val streamEntries = strs(plan.get("stream_entries"))
    // compact rewrites every file under half of this: each round's
    // small files and the table's initial ones
    private val compactBytes = 1L << 20
    private var table: GraftTable = _
    private var warmTable: GraftTable = _
    private val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
      "o_totalprice", "o_orderdate", "o_orderpriority")

    def setupRound(i: Int): Unit = {
      verifyInputs()
      val orders = spark.read.parquet(s"$data/orders.parquet")
      val t = GraftTable.create(spark, s"$work/tables/t$i",
        orders.repartitionByRange(8, col("o_orderkey")))
      if (i == 0) warmTable = t
      table = t
    }

    def warm(): Unit = {
      writeRound(-1, warmTable, plan.get("warm_round"))
      streamEntries.foreach(stream(-1, _))
    }

    def pass(k: Int): Unit = blocks(k % blocks.size).foreach {
      case "round" => writeRound(k, table, rounds(k))
      case entry => stream(k, entry)
    }

    private def stream(k: Int, entry: String): Unit = op(k, entry, "stream") {
      val df = spans(s"streaming.$entry")(SparkEntry.queries(entry)(spark, data))
      action(df, s"$work/out/$entry/p$k")
    }

    private def range(n: JsonNode) =
      col("o_orderkey") >= n.get(0).asLong && col("o_orderkey") < n.get(1).asLong

    private def writeRound(k: Int, t: GraftTable, rd: JsonNode): Unit = {
      val id = rd.get("id").asInt
      val out = s"$work/out/round$id"
      val v0 = t.latestVersion
      op(k, "append", "commit") {
        val src = spark.read.parquet(rd.get("append").asText)
        spans("graft_table.append")(t.append(src))
      }
      op(k, "merge_into", "commit") {
        val src = spark.read.parquet(rd.get("merge").asText)
        spans("graft_table.merge_into")(t.mergeInto(src, Seq("o_orderkey"),
          matched = Seq(MatchedUpdate(None, Map(
            "o_totalprice" -> expr("s.o_totalprice"),
            "o_orderstatus" -> expr("s.o_orderstatus")))),
          notMatched = Seq(NotMatchedInsert(None,
            cols.map(c => c -> expr(s"s.$c")).toMap))))
      }
      op(k, "update", "commit") {
        spans("graft_table.update")(t.update(range(rd.get("update")),
          Map("o_totalprice" -> (col("o_totalprice") + lit(1.0)))))
      }
      op(k, "delete_where", "commit") {
        spans("graft_table.delete_where")(t.deleteWhere(range(rd.get("delete"))))
      }
      op(k, "compact", "commit") {
        spans("graft_table.compact")(t.compact(compactBytes))
      }
      val v1 = t.latestVersion
      op(k, "read_where", "read") {
        val df = spans("graft_table.read_where")(t.readWhere(range(rd.get("read"))))
        action(df, s"$out/read_where")
      }
      op(k, "read_version", "read") {
        val df = spans("graft_table.read_version")(t.readVersion(v0))
        action(df.agg(count(lit(1)).as("n"), sum("o_orderkey").as("key_sum"),
          sum(round(col("o_totalprice") * 100).cast("long")).as("cents"),
          sum(when(col("o_orderstatus") === "O", 1L).otherwise(0L)).as("n_open")),
          s"$out/read_version")
      }
      op(k, "change_feed", "read") {
        val df = spans("graft_table.change_feed")(t.changeFeed(v0, v1))
        action(df.get.select("o_orderkey", "o_totalprice", "_change_type"),
          s"$out/change_feed")
      }
      r.rec("round", "pass" -> k, "id" -> id, "v0" -> v0, "v1" -> v1)
    }

    /** Table state behind the read metrics, sampled outside the spans. */
    override def traceStats(k: Int): Unit = {
      val rd = rounds(k)
      val fs = new File(s"${table.root}/_graft_log")
      val logBytes = Option(fs.listFiles()).map(_.map(_.length).sum).getOrElse(0L)
      val hist = table.history().collect().map(row =>
        row.getLong(0) -> row.getLong(4)).toMap
      r.rec("table_stats", "pass" -> k,
        "pruned_files" -> table.prunedFiles(range(rd.get("read"))).size,
        "live_files" -> table.liveFiles().size, "log_bytes" -> logBytes,
        "bytes_added" -> hist.map { case (v, b) => Seq(v, b) }.toSeq)
    }

    override def finish(passes: Int): Unit = {
      op(passes, "vacuum", "commit") {
        spans("graft_table.vacuum")(table.vacuum(2, 0L))
      }
      r.rec("final", "version" -> table.latestVersion, "rounds" -> passes)
      table.read().write.mode("overwrite").parquet(s"$work/out/final")
    }
  }
}
