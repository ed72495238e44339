package graft.perfbench

import java.io.{File, PrintWriter}
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.convert.Validator
import graft.core.{GraftSession, Metrics, RunState}
import graft.exec.{Runner, SubDag}
import graft.llm.{Dedup, LayoutStore, TextAnalysis}
import graft.model.SchemaBridge
import graft.operators.Fork
import graft.sinks.Sinks
import graft.sources.Sources
import graft.streaming.Incremental

/** One operation of a closed loop: an ingest partition, a cdc batch with its
  * read, or one operator call. `batchS` runs from issue to commit, `readS`
  * is the consumer's read of the committed result. `check` is what the
  * reference comparison needs to judge this operation. */
final case class Op(batchS: Double, readS: Double, ok: Boolean, check: String)

/** A loop unit: the operations it ran and the input rows/bytes it consumed. */
final case class UnitRun(ops: Seq[Op], rows: Long, inBytes: Long)

trait Workload {
  /** Work that every run pays before timing starts (bootstrap, warmup). */
  def setup(tr: Tracer): Unit
  /** False once the workload has no fresh input for another unit. */
  def hasUnit: Boolean = true
  def unit(i: Int, tr: Tracer): UnitRun
  /** Untimed: write what the reference comparison reads. */
  def dumpChecks(dir: String): Unit = ()
}

object Main {
  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def json(v: Any): String = v match {
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case b: Boolean => b.toString
    case n: Number => n.toString
    case null => "null"
    case other => json(other.toString)
  }

  /** Bytes this process has passed to write(2) so far. */
  def wchar(): Long =
    scala.io.Source.fromFile("/proc/self/io").getLines()
      .find(_.startsWith("wchar:")).map(_.split(":")(1).trim.toLong).getOrElse(0L)

  def vmHwmKb(): Long =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)

  final case class LoopResult(ops: Seq[Op], units: Int, rows: Long, inBytes: Long,
                              wallS: Double, wcharBytes: Long)

  /** Closed loop: the next unit is issued only after the previous one
    * returned. Runs until `seconds` have passed (or exactly `units` units). */
  def loop(wl: Workload, first: Int, seconds: Double, units: Option[Int],
           tr: Tracer): LoopResult = {
    val ops = mutable.ArrayBuffer.empty[Op]
    var rows = 0L; var bytes = 0L; var i = first
    val w0 = wchar()
    val t0 = System.nanoTime()
    def more = units.fold(secs(t0) < seconds)(n => i < first + n)
    while (more && wl.hasUnit) {
      val t = System.nanoTime()
      Try(wl.unit(i, tr)) match {
        case Success(u) => ops ++= u.ops; rows += u.rows; bytes += u.inBytes
        case Failure(e) =>
          System.err.println(s"unit $i failed: $e")
          ops += Op(secs(t), 0.0, ok = false, json(Map("unit" -> i, "error" -> e.toString)))
      }
      i += 1
    }
    LoopResult(ops.toSeq, i - first, rows, bytes, secs(t0), wchar() - w0)
  }

  private def opRecord(o: Op) =
    Map("ok" -> o.ok, "batch_s" -> o.batchS, "read_s" -> o.readS, "check" -> o.check)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val input = opt("input"); val out = opt("out")
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val cores = opt("cores").toInt
    val spark = GraftSession.builder("perfbench", s"local[$cores]", cores).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val wl: Workload = opt("workload") match {
      case "ingest" => new IngestWorkload(spark, input, out, cores)
      case "cdc"    => new CdcWorkload(spark, input, out)
      case "dedup"  => new DedupWorkload(spark, input)
    }
    val off = new Tracer(spark, enabled = false)
    wl.setup(off)
    val readyMs = System.currentTimeMillis()
    val timed = loop(wl, first = 0, seconds, None, off)
    val hwm = vmHwmKb()
    val result = mutable.LinkedHashMap[String, Any](
      "ready_ms" -> readyMs,
      "units" -> timed.units, "rows" -> timed.rows, "in_bytes" -> timed.inBytes,
      "wall_s" -> timed.wallS, "wchar" -> timed.wcharBytes, "vm_hwm_kb" -> hwm,
      "ops" -> timed.ops.map(opRecord))
    if (traced) {
      val tr = new Tracer(spark, enabled = true)
      tr.startLoop()
      val again = loop(wl, first = timed.units, seconds, Some(timed.units), tr)
      val layers = tr.report(again.units, cores)
      result("layers") = layers ++ Map(
        "trace.overhead_s" -> (again.wallS - timed.wallS),
        "trace.overhead_frac" -> (again.wallS / timed.wallS - 1.0))
      result("traced_ops") = again.ops.map(opRecord)
    }
    wl.dumpChecks(s"$out/check")
    val pw = new PrintWriter(s"$out/result.json")
    try pw.write(json(result)) finally pw.close()
    spark.stop()
  }
}

// ---------------------------------------------------------------- ingest

/** Each partition is one `Runner.runAll` of two pipelines: JSON events are
  * conformed and validated, split into valid rows (written, then published
  * by rename) and errors (error table), then the run state commits; beside
  * it, the previous partition's published rows round-trip through Avro into
  * a dispersal file sink. */
final class IngestWorkload(spark: SparkSession, input: String, out: String, cores: Int)
    extends Workload {
  private val parts = new File(s"$input/events").listFiles().filter(_.isDirectory)
    .map(_.getPath).sorted
  // per partition: a valid event_id to look up, and the partition's line count
  private val lookup = scala.io.Source.fromFile(s"$input/lookup.tsv")
    .getLines().map(_.split("\t").map(_.toLong)).toIndexedSeq
  private val rawSchema = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", StringType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))
  private val target = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType),
    StructField(Sources.CorruptCol, StringType)))
  private val rules =
    Seq(Validator.Rule("malformed", col(Sources.CorruptCol).isNotNull)) ++
      Validator.requiredKeys(Seq("event_id", "user_id")) ++ Seq(
        Validator.Rule("negative_value", col("value") < 0),
        Validator.Rule("unknown_event_type",
          !col("event_type").isin("click", "view", "purchase", "signup", "error")))
  private val state = new RunState(s"$out/_state")
  private def published(i: Int) = s"$out/published/op=$i"

  private def validate(raw: DataFrame): DataFrame =
    Validator.withErrors(Validator.conformTo(raw, target), rules)

  private def eventsPipeline(i: Int, tr: Tracer)(s: SparkSession): Unit = {
    val src = parts(i % parts.length)
    val raw = tr.span("sources.json")(Sources.json(s, src, rawSchema))
    tr.force("sources.json")(Sources.json(s, src, rawSchema))
    tr.forceLazy("convert.validate", raw)(validate)
    val checked = tr.span("convert.validate")(validate(raw))
    val before = persistedBytes(s)
    val fork = tr.span("operators.fork")(Fork.validErrorSplit(checked, Validator.ErrorCol))
    tr.add("operators.fork.persist_bytes", (persistedBytes(s) - before).toDouble)
    val stage = s"$out/staging/op=$i"
    val dag = SubDag("events", children = Seq(
      SubDag("valid", priority = 0,
        execute = df => tr.span("sinks.write")(
          Sinks.writeFile(df.drop(Validator.ErrorCol, Sources.CorruptCol), stage)),
        commit = () => tr.span("sinks.write")(Sinks.publishRename(s, stage, published(i)))),
      SubDag("errors", priority = 1,
        execute = df => tr.span("sinks.write")(
          Sinks.writeErrorTable(df, s"$out/errors/op=$i", "perfbench", "event_id")))))
    try SubDag.run(dag, checked,
      routeForChild = (c, _) => fork.stream(if (c.name == "valid") 0 else 1))
    finally fork.close()
    tr.span("core.commit") {
      state.set("ingest.last_published", published(i))
      state.commit()
    }
  }

  private def dispersalPipeline(i: Int, tr: Tracer)(s: SparkSession): Unit = {
    val prev = Sources.parquet(s, published(i - 1))
    val writer = SchemaBridge.structToAvro(prev.schema).toString
    tr.force("model.avro")(SchemaBridge.decode(SchemaBridge.encode(prev), writer))
    val back = tr.span("model.avro")(SchemaBridge.decode(SchemaBridge.encode(prev), writer))
    tr.span("sinks.write")(Sinks.writeFile(back, s"$out/dispersed/op=$i"))
  }

  private def persistedBytes(s: SparkSession): Long =
    s.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum

  private def sinkStats(tr: Tracer, i: Int): Unit = if (tr.enabled) {
    val files = Seq(published(i), s"$out/errors/op=$i", s"$out/dispersed/op=$i")
      .flatMap(d => Option(new File(d)).filter(_.exists).toSeq)
      .flatMap(d => Files.walk(d.toPath).toArray.map(_.asInstanceOf[java.nio.file.Path]))
      .map(_.toFile).filter(f => f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_"))
    tr.add("sinks.write.files", files.size.toDouble)
    tr.add("sinks.write.bytes", files.map(_.length).sum.toDouble)
  }

  private def runPartition(i: Int, tr: Tracer): UnitRun = {
    val t0 = System.nanoTime()
    val pipelines: Seq[(String, SparkSession => Unit)] =
      Seq("events" -> eventsPipeline(i, tr) _) ++
        (if (i > 0) Seq("dispersal" -> dispersalPipeline(i, tr) _) else Nil)
    val results = tr.span("exec.run_all")(Runner.runAll(spark, pipelines, parallelism = cores))
    val batchS = Main.secs(t0)
    results.foreach(r => r.result.get)
    tr.sample("exec.run_all.overlap", results.map(_.millis).sum / 1e3 / batchS)
    sinkStats(tr, i)
    val Array(key, lines) = lookup(i % parts.length)
    val t1 = System.nanoTime()
    val row = Sources.parquet(spark, published(i)).where(col("event_id") === key)
      .select("event_id", "user_id", "value").collect()
    val readS = Main.secs(t1)
    val src = new File(parts(i % parts.length))
    val check = Main.json(Map("op" -> i, "key" -> key,
      "lookup" -> row.map(r => Seq(r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq))
    UnitRun(Seq(Op(batchS, readS, row.length == 1, check)), lines,
      new File(src, "part-00000.json").length)
  }

  // ops 0 until Warmup warm the JVM up; loop unit i is partition op i + Warmup
  private val Warmup = 12
  def setup(tr: Tracer): Unit = (0 until Warmup).foreach(runPartition(_, tr))
  def unit(i: Int, tr: Tracer): UnitRun = runPartition(i + Warmup, tr)
}

// ------------------------------------------------------------------- cdc

/** Each scheduled run lands one changelog file, resumes the AvailableNow CDC
  * maintenance query (facts + aggregate state stores under a compaction
  * policy), then serves one snapshot read with a key lookup. */
final class CdcWorkload(spark: SparkSession, input: String, out: String) extends Workload {
  private val schema = StructType(Seq(
    StructField("event_id", LongType), StructField("user_id", LongType),
    StructField("v", DecimalType(27, 2)), StructField("vd", DoubleType),
    StructField("op", StringType), StructField("v_before", DecimalType(27, 2))))
  private val changes = new File(s"$input/changes").listFiles().map(_.getPath).sorted
  // per changelog file: a key it touches, and its row count
  private val lookup = scala.io.Source.fromFile(s"$input/lookup.tsv")
    .getLines().map(_.split("\t").map(_.toLong)).toIndexedSeq
  private val src = s"$out/src"; private val state = s"$out/state"
  private val facts = s"$out/facts"; private val ckpt = s"$out/ckpt"
  private val Warmup = 4
  private var landed = 0
  private val conf = spark.sparkContext.hadoopConfiguration

  private def land(path: String): Unit = {
    val dst = Paths.get(src, f"c-$landed%05d.parquet")
    Files.createDirectories(dst.getParent)
    Files.copy(Paths.get(path), dst, StandardCopyOption.COPY_ATTRIBUTES)
    dst.toFile.setLastModified(1600000000000L + landed * 60000L)
    landed += 1
  }

  private def fold(tr: Tracer): Unit = tr.span("streaming.fold_batch") {
    Incremental.cdcAggMaintenanceAvailableNow(spark, src, schema, "parquet", df => df,
      pkCols = Seq("event_id"), keyCols = Seq("user_id"), sumCols = Seq("v"),
      minCols = Seq("vd"), maxCols = Seq("vd"),
      statePath = state, factsPath = facts, checkpointDir = ckpt,
      maxFilesPerTrigger = Some(1), stateBuckets = 4, beforeSuffix = Some("_before"),
      compaction = LayoutStore.CompactionPolicy(
        maxManifestChain = Some(2), retainVersions = Some(4)))
      .awaitTermination()
  }

  private def storeFiles(): Seq[File] =
    Seq(state, facts).map(new File(_)).filter(_.exists)
      .flatMap(d => Files.walk(d.toPath).toArray.map(_.asInstanceOf[java.nio.file.Path].toFile))
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))

  private def isFull(p: String, v: Long): Boolean =
    LayoutStore.effectiveEntries(conf, p, v).values.toSet == Set(v)

  /** Traced run only: what one batch wrote to the two stores. */
  private def layoutStats(tr: Tracer, filesBefore: Set[String],
                          versionsBefore: Map[String, Seq[Long]]): Unit = if (tr.enabled) {
    val fresh = storeFiles().filterNot(f => filesBefore.contains(f.getPath))
    tr.add("llm.layout.files_per_batch", fresh.size.toDouble)
    tr.add("llm.layout.bytes_per_batch", fresh.map(_.length).sum.toDouble)
    for (p <- Seq(state, facts)) {
      val vs = LayoutStore.versions(conf, p)
      val added = vs.filterNot(versionsBefore(p).contains)
      tr.add("llm.layout.compactions", added.count(v => isFull(p, v)).toDouble)
      if (p == state) vs.lastOption.foreach(v => tr.sample("llm.layout.chain_depth",
        LayoutStore.effectiveEntries(conf, p, v).values.toSet.size.toDouble))
    }
  }

  def setup(tr: Tracer): Unit = {
    land(s"$input/facts.parquet")
    fold(tr)
    (0 until Warmup).foreach(unit(_, tr))
  }

  private var step = 0
  override def hasUnit: Boolean = step < changes.length

  def unit(i: Int, tr: Tracer): UnitRun = {
    val f = changes(step)
    val Array(key, rowsIn) = lookup(step)
    step += 1
    val filesBefore = if (tr.enabled) storeFiles().map(_.getPath).toSet else Set.empty[String]
    val versionsBefore =
      if (tr.enabled) Seq(state, facts).map(p => p -> LayoutStore.versions(conf, p)).toMap
      else Map.empty[String, Seq[Long]]
    val t0 = System.nanoTime()
    land(f)
    fold(tr)
    val batchS = Main.secs(t0)
    layoutStats(tr, filesBefore, versionsBefore)
    val t1 = System.nanoTime()
    val row = tr.span("llm.layout_read") {
      LayoutStore.readSnapshotTable(spark, state).where(col("user_id") === key)
        .select(col("n"), col("sum_v").cast("string"), col("min_vd"), col("max_vd")).collect()
    }
    val readS = Main.secs(t1)
    val check = Main.json(Map("file" -> (step - 1), "key" -> key,
      "row" -> row.map(r => Seq(r.getLong(0), r.getString(1), r.getDouble(2), r.getDouble(3))).toSeq))
    UnitRun(Seq(Op(batchS, readS, ok = true, check)), rowsIn, new File(f).length)
  }

  override def dumpChecks(dir: String): Unit = {
    LayoutStore.readSnapshotTable(spark, state)
      .select(col("user_id"), col("n"), col("sum_v").cast("string").as("sum_v"),
        col("min_vd"), col("max_vd"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/state")
    val pw = new PrintWriter(s"$dir/landed.txt")
    try pw.write(landed.toString) finally pw.close()
  }
}

// ----------------------------------------------------------------- dedup

/** LLM curation over a skewed near-duplicate corpus, one pass per loop unit:
  * quality gate and exact dedup, MinHash-LSH near-dup pairs with a bucket
  * cap, connected components, then the exact set-similarity join over the
  * keepers. Each operator call commits its result into Spark's block store
  * (persist + count) and the consumer read collects it; nothing is written to
  * a sink. The warmup pass's results are dumped for the reference check, and
  * every later pass must reproduce them exactly. */
final class DedupWorkload(spark: SparkSession, input: String) extends Workload {
  private val path = s"$input/corpus.parquet"
  private val inputRows = spark.read.parquet(path).count()
  private val inputBytes = new File(path).length
  private val cap = Dedup.suggestedBucketCap(inputRows)
  private val firstPass = mutable.LinkedHashMap.empty[String, (Array[String], Array[Row])]
  private val digests = mutable.Map.empty[String, String]
  private val live = mutable.ArrayBuffer.empty[DataFrame]

  private def digest(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.map(_.mkString("\t")).sorted.foreach(s => md.update((s + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  /** One operator call, committed and read back; returns the committed frame. */
  private def call(name: String, tr: Tracer, ops: mutable.Buffer[Op])
                  (body: => DataFrame): DataFrame = {
    val t0 = System.nanoTime()
    val df = tr.span(s"llm.$name") {
      val r = body.persist(StorageLevel.MEMORY_AND_DISK)
      r.count()
      r
    }
    live += df
    val batchS = Main.secs(t0)
    val t1 = System.nanoTime()
    val rows = df.collect()
    val readS = Main.secs(t1)
    val d = digest(rows)
    val ok = digests.getOrElseUpdate(name, d) == d
    if (!firstPass.contains(name)) firstPass(name) = (df.columns, rows)
    ops += Op(batchS, readS, ok, Main.json(Map("call" -> name, "digest" -> d)))
    df
  }

  private def pass(tr: Tracer, ops: mutable.Buffer[Op]): Unit = {
    val docs = spark.read.parquet(path)
    val exact = call("exact_dedup", tr, ops) {
      val toks = TextAnalysis.tokens(lower(col("text")))
      val qual = docs
        .withColumn("__nt", size(toks).cast("long"))
        .withColumn("__ur", size(array_distinct(toks)).cast("double") / col("__nt").cast("double"))
        .where(col("__nt") >= 10 && col("__ur") > 0.3)
        .drop("__nt", "__ur")
      Dedup.exactDedup(qual, "text", "doc_id").select("doc_id", "text")
    }
    val pairs = call("near_dup_pairs", tr, ops) {
      Dedup.nearDupPairs(exact, "doc_id", "text", threshold = 0.5, k = 3,
        numHashes = 12, bands = 4, maxBucketSize = Some(cap))
    }
    if (tr.enabled) {
      // instrumentation only: release what the extra call leaves persisted,
      // so it does not show up in spark.leaked_rdds
      val sc = spark.sparkContext
      val before = sc.getPersistentRDDs.keySet
      val cands = Dedup.lshCandidatePairs(exact, "doc_id", "text", 3, 12, 4, Some(cap)).count()
      (sc.getPersistentRDDs.keySet -- before).foreach(sc.getPersistentRDDs(_).unpersist(blocking = true))
      tr.add("llm.near_dup_pairs.candidates", cands.toDouble)
      tr.sample("llm.near_dup_pairs.yield", pairs.count().toDouble / math.max(cands, 1L))
    }
    val scope = s"perfbench-${java.util.UUID.randomUUID()}"
    val cc = Metrics.withScope(scope)(call("cc", tr, ops)(Dedup.connectedComponents(pairs)))
    Metrics.drainDriverEvents(scope).filter(e => e.point == "graft.cc" && e.metric == "rounds")
      .foreach(e => tr.add("llm.cc.rounds", e.value.toDouble))
    call("setsim_join", tr, ops) {
      val drop = cc.where(col("id") =!= col("cluster")).select(col("id").as("doc_id"))
      Dedup.setSimilarityJoin(exact.join(drop, Seq("doc_id"), "left_anti"),
        "doc_id", "text", thresholdNum = 7, thresholdDen = 10)
    }
    if (tr.enabled) kernels(tr, docs)
  }

  /** Native kernels in rows/s over the corpus text, each a noop write of one
    * projection over a materialized input. */
  private def kernels(tr: Tracer, docs: DataFrame): Unit = {
    val in = docs.select(col("text"))
      .withColumn("__sh", split(lower(col("text")), " "))
      .withColumn("__ids", array_sort(transform(col("__sh"), x => xxhash64(x))))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val n = in.count().toDouble
      def rate(name: String, c: org.apache.spark.sql.Column): Unit = {
        val t0 = System.nanoTime()
        in.select(c.as("k")).write.format("noop").mode("overwrite").save()
        tr.sample(name, n / Main.secs(t0))
      }
      rate("functions.minhash.rows_per_s", expr("graft_minhash_minima(__sh, 12)"))
      rate("functions.chargram_md5.rows_per_s", expr("graft_chargram_md5(text, 5)"))
      rate("functions.sorted_intersect.rows_per_s",
        expr("graft_sorted_intersect_count(__ids, reverse(reverse(__ids)))"))
    } finally in.unpersist(blocking = true)
  }

  def setup(tr: Tracer): Unit = unit(-1, tr)

  def unit(i: Int, tr: Tracer): UnitRun = {
    val ops = mutable.ArrayBuffer.empty[Op]
    try pass(tr, ops)
    finally { live.foreach(_.unpersist(blocking = true)); live.clear() }
    UnitRun(ops.toSeq, inputRows, inputBytes)
  }

  override def dumpChecks(dir: String): Unit = {
    new File(dir).mkdirs()
    firstPass.foreach { case (name, (cols, rows)) =>
      val pw = new PrintWriter(s"$dir/$name.tsv")
      try {
        pw.println(cols.mkString("\t"))
        rows.foreach(r => pw.println(r.toSeq.map(v => if (v == null) "" else v.toString).mkString("\t")))
      } finally pw.close()
    }
    val pw = new PrintWriter(s"$dir/params.json")
    try pw.write(Main.json(Map("bucket_cap" -> cap,
      "oracle" -> graft.SparkEntry.oracleSql.filter { case (k, _) =>
        Set("d01_exact_dedup", "d04_lsh_neardups", "d74_setsim_join")(k)
      })))
    finally pw.close()
  }
}
