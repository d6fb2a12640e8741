package graft.flowbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Materialize, SparkEntry, Tables}
import graft.operators.{CurationQueries, DailyIngest, LLMQueries,
  ReleaseBuild, SpecPipeline, StateMachine, VectorQueries}
import graft.sinks.Sinks

/** One product flow, as the benchmark drives it through the program's
  * public entry points. `setup` generates the seeded inputs (and any
  * table the flow expects to exist already) into `data`; `iteration`
  * runs the flow once with every artifact landing under `out`. */
trait Workload {
  /** Input rows one iteration processes (the rows of `rows_per_s`). */
  def inputRows: Long
  def setup(spark: SparkSession, seed: Long, data: String): Unit
  def iteration(spark: SparkSession, tr: Tracer, data: String,
      out: String): Unit
  /** Every artifact an iteration leaves on disk, as (path, format). */
  def artifacts(data: String, out: String): Seq[(String, String)]
  /** Output checks on one iteration's artifacts: the problems found. */
  def check(spark: SparkSession, data: String, out: String): Seq[String]
  /** Oracle comparisons left to the DuckDB side: name -> (SQL over the
    * input tables, Spark output parquet dir). */
  def oracle(data: String, out: String): Map[String, (String, String)] =
    Map.empty
  /** Useful-work ratios of one checked iteration, by metric name. */
  def ratios(spark: SparkSession, data: String, out: String)
      : Map[String, Double]
  /** Attribution legs and extra layers, run once by the traced run;
    * returns per-layer scalars by metric name. */
  def legs(spark: SparkSession, tr: Tracer, seed: Long, data: String,
      work: String): Map[String, Double]
}

object Workload {
  def byName(name: String, smoke: Boolean): Workload = name match {
    case "spec_lifecycle" =>
      new SpecLifecycle(if (smoke) 1500 else 4000, smoke)
    case "release_build" =>
      new ReleaseBuildFlow(if (smoke) 500 else 1000, 500)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (spec_lifecycle, release_build)")
  }

  /** Runs a frame to completion without writing it anywhere. */
  def drain(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()
}

/** The reference's request lifecycle: intake validation, upload, ledger,
  * one poll cycle, result extract/validate/merge, bucketed upsert into
  * the document collection, structured logs. */
final class SpecLifecycle(nOrders: Int, smoke: Boolean) extends Workload {
  private val Buckets = 16
  def inputRows: Long = nOrders

  def setup(spark: SparkSession, seed: Long, data: String): Unit = {
    Inputs.orders(spark, seed, nOrders, data)
    // the document collection the results merge into, bucketed by key
    // and shaped like flagshipResults' output: in_progress, with a prior
    // response on every k ≡ 0 (mod 5) document
    val k = col("o_orderkey")
    val seeded = k % 5 === 0
    Sinks.writeBucketed(Tables(spark, data, "orders").select(
      concat(lit("order-"), k).as("custom_id"),
      lit("in_progress").as("ai_status"),
      when(seeded, 1L).otherwise(0L).as("n_responses"),
      when(seeded, lit("seed")).as("last_category"),
      when(seeded, lit(0.5)).as("last_confidence")),
      s"$data/target", "custom_id", Buckets)
  }

  def iteration(spark: SparkSession, tr: Tracer, data: String,
      out: String): Unit = {
    tr.span("SpecPipeline.ingestValidation") {
      SpecPipeline.ingestValidation(spark, data)
        .write.parquet(s"$out/validation_errors.parquet")
    }
    tr.span("sinks.writeJsonl") {
      // upload every request line the intake checks accepted, numbered
      // the way the validation numbers them
      val lines = graft.functions.LineNumbers.byKey(
        Tables(spark, data, "orders").select(col("o_orderkey").as("k")),
        "k", "line_no", spark.sessionState.conf.numShufflePartitions)
      val rejected = spark.read.parquet(s"$out/validation_errors.parquet")
        .select(col("line_no"))
      Sinks.writeJsonl(lines.join(rejected, Seq("line_no"), "left_anti")
        .select(col("line_no"),
          concat(lit("order-"), col("k")).as("custom_id"),
          lit("POST").as("method"), lit("/v1/chat/completions").as("url"),
          struct(lit("gpt-4o-mini").as("model"),
            array(struct(lit("user").as("role"),
              concat(lit("summarize order "), col("k")).as("content")))
              .as("messages")).as("body")),
        s"$out/upload")
    }
    tr.span("sinks.appendLedger") {
      Sinks.appendLedger(StateMachine.ledger(spark, data), s"$out/ledger")
    }
    tr.span("StateMachine.pollDispatch") {
      StateMachine.pollDispatch(spark, data)
        .write.parquet(s"$out/dispatch.parquet")
    }
    tr.span("StateMachine.ledgerAfterPoll") {
      StateMachine.ledgerAfterPoll(spark, data)
        .write.parquet(s"$out/ledger_after_poll.parquet")
    }
    tr.span("SpecPipeline.flagshipResults") {
      SpecPipeline.flagshipResults(spark, data)
        .write.parquet(s"$out/results.parquet")
    }
    tr.span("sinks.bucketedUpsert") {
      Sinks.bucketedUpsert(spark, s"$data/target", delta(spark, out),
        "custom_id", Buckets)
    }
    tr.span("sinks.writeLogs") {
      Sinks.writeLogs(StateMachine.structuredLogs(spark, data),
        s"$out/logs")
    }
  }

  /** This cycle's results for the jobs the poll moved to
    * process_results — the rows the upsert merges. */
  private def delta(spark: SparkSession, out: String): DataFrame = {
    val process = spark.read.parquet(s"$out/dispatch.parquet")
      .filter(col("action") === "process_results")
      .select(concat(lit("order-"), col("job_id")).as("custom_id"))
    spark.read.parquet(s"$out/results.parquet")
      .join(process, Seq("custom_id"), "left_semi")
  }

  def artifacts(data: String, out: String): Seq[(String, String)] = Seq(
    s"$out/validation_errors.parquet" -> "parquet",
    s"$out/upload" -> "json",
    s"$out/ledger" -> "parquet",
    s"$out/dispatch.parquet" -> "parquet",
    s"$out/ledger_after_poll.parquet" -> "parquet",
    s"$out/results.parquet" -> "parquet",
    s"$out/logs" -> "json",
    s"$data/target" -> "parquet")

  def check(spark: SparkSession, data: String, out: String): Seq[String] = {
    val lines = Tables(spark, data, "orders").count()
    val errors = spark.read.parquet(s"$out/validation_errors.parquet").count()
    val uploaded = spark.read.text(s"$out/upload").count()
    val target = spark.read.parquet(s"$data/target").count()
    Seq(
      (uploaded + errors == lines) ->
        s"upload ($uploaded) + rejected ($errors) != request lines ($lines)",
      (target == lines) ->
        s"target holds $target documents, expected $lines")
      .collect { case (false, msg) => msg }
  }

  override def oracle(data: String, out: String)
      : Map[String, (String, String)] = Map(
    "q12_ingest_validation" -> (SparkEntry.oracleSql("q12_ingest_validation")
      -> s"$out/validation_errors.parquet"),
    "q10_flagship_results" -> (SparkEntry.oracleSql("q10_flagship_results")
      -> s"$out/results.parquet"))

  def ratios(spark: SparkSession, data: String, out: String)
      : Map[String, Double] = {
    val lines = Tables(spark, data, "orders").count().toDouble
    val errors = spark.read.parquet(s"$out/validation_errors.parquet").count()
    val touched = delta(spark, out)
      .select(pmod(hash(col("custom_id")), lit(Buckets))).distinct().count()
    Map("SpecPipeline.valid_ratio" -> (lines - errors) / lines,
      "sinks.bucketedUpsert.buckets_touched_ratio" ->
        touched.toDouble / Buckets)
  }

  /** The traced run also drives one short DailyIngest chain here: the
    * ingest flow does not fit the run budget as a workload of its own,
    * and this run is the shorter of the two. */
  def legs(spark: SparkSession, tr: Tracer, seed: Long, data: String,
      work: String): Map[String, Double] =
    IngestLeg.run(spark, tr, seed, s"$work/ingest", smoke)
}

/** A release over the whole generated corpus (train universe plus the
  * eval holdout), with the vector universe set so the asset and vector
  * keep-lists run too. */
final class ReleaseBuildFlow(nDocs: Int, nVecs: Int) extends Workload {
  def inputRows: Long = nDocs

  def setup(spark: SparkSession, seed: Long, data: String): Unit =
    Inputs.corpus(spark, seed, nDocs, nVecs, factor = 1, data)

  def iteration(spark: SparkSession, tr: Tracer, data: String,
      out: String): Unit =
    tr.span("ReleaseBuild.runOn") {
      ReleaseBuild.runOn(spark, Tables(spark, data, "documents"), out,
        vecsUniverse = Some(Tables(spark, data, "embeddings"))).count()
    }

  def artifacts(data: String, out: String): Seq[(String, String)] =
    (Seq("disposition", "kept_docs", "kept_assets", "paired_curation",
      "packing", "kept_vectors", "paired_vector_curation",
      "curation_rollup", "manifest", "mixture", "mixed_manifest",
      "report_card").map(a => s"$out/$a.parquet" -> "parquet") ++
      Seq(s"$out/ledger" -> "parquet", s"$out/logs" -> "json"))

  def check(spark: SparkSession, data: String, out: String): Seq[String] = {
    val docs = Tables(spark, data, "documents")
    val train = docs.filter(col("doc_id") % 10 =!= 0)
    val disp = spark.read.parquet(s"$out/disposition.parquet")
    val kept = spark.read.parquet(s"$out/kept_docs.parquet")
    val keptVecs = spark.read.parquet(s"$out/kept_vectors.parquet")
    val nTrain = train.count()
    val d = disp.agg(count(lit(1)), countDistinct(col("doc_id")),
      count(when(col("disposition") === "kept", 1))).head()
    val (nDisp, nDistinct, nKeptDisp) = (d.getLong(0), d.getLong(1),
      d.getLong(2))
    val nKept = kept.count()
    val strayDisp = disp.join(train, Seq("doc_id"), "left_anti").count()
    val strayKept = kept.join(train, Seq("doc_id"), "left_anti").count()
    val strayVecs = keptVecs.join(Tables(spark, data, "embeddings"),
      Seq("vec_id"), "left_anti").count()
    Seq(
      (nDisp == nTrain && nDistinct == nTrain && strayDisp == 0) ->
        (s"disposition has $nDisp rows ($nDistinct distinct, $strayDisp " +
          s"outside the universe) for $nTrain universe docs"),
      (nKept == nKeptDisp) ->
        s"kept_docs has $nKept rows, disposition says $nKeptDisp kept",
      (strayKept == 0) -> s"$strayKept kept docs outside the universe",
      (strayVecs == 0) -> s"$strayVecs kept vectors outside the universe")
      .collect { case (false, msg) => msg }
  }

  def ratios(spark: SparkSession, data: String, out: String)
      : Map[String, Double] = {
    val train = Tables(spark, data, "documents")
      .filter(col("doc_id") % 10 =!= 0).count()
    val kept = spark.read.parquet(s"$out/kept_docs.parquet").count()
    Map("ReleaseBuild.kept_ratio" -> kept.toDouble / train)
  }

  /** The release's three keep-list stages, each run on its own. */
  def legs(spark: SparkSession, tr: Tracer, seed: Long, data: String,
      work: String): Map[String, Double] = {
    val docs = Tables(spark, data, "documents")
    tr.span("CurationQueries.funnelDispositionOf") {
      Workload.drain(CurationQueries.funnelDispositionOf(docs))
    }
    tr.span("VectorQueries.keptVectorsOf") {
      Workload.drain(VectorQueries.keptVectorsOf(
        Tables(spark, data, "embeddings")))
    }
    tr.span("multimodal.keptAssetsOf") {
      val m = graft.multimodal.Multimodal
      Workload.drain(m.keptAssetsOf(spark,
        m.assetDocsOf(docs.filter(col("doc_id") % 10 =!= 0))))
    }
    Map.empty
  }
}

/** A short DailyIngest chain on the delta index layout: seed the gen-0
  * root and the asset/vector indexes, ingest three daily residues, run
  * that day's asset and vector ingest, vacuum the generations, then the
  * text day's two attribution legs (batch signing, the gates). */
object IngestLeg {
  private val Days = 0 to 2

  def run(spark: SparkSession, tr: Tracer, seed: Long, work: String,
      smoke: Boolean): Map[String, Double] = {
    val data = s"$work/data"
    val root = s"$work/root"
    val fam = s"$work/fam"
    // sf0.1-like documents/embeddings at a tenth of the size, replicated
    // 4x into near-dup families
    Inputs.corpus(spark, seed, if (smoke) 100 else 500,
      if (smoke) 50 else 200, factor = 4, data)
    DailyIngest.writeIndexesDelta(spark, data, root,
      pendingDays = Days.toSet)
    DailyIngest.writeAssetIndexes(spark, data, fam)
    DailyIngest.writeVectorIndexes(spark, data, fam)

    val dayWall = Days.map { d =>
      val t0 = System.nanoTime()
      tr.span("DailyIngest.runDelta") {
        DailyIngest.runDelta(spark, root, data, s"$work/day$d", day = d)
          .count()
      }
      (System.nanoTime() - t0) / 1e9
    }
    // <family>.parquet/gen=<g> directories, by generation
    val gens = Files.children(root).flatMap(f => Files.children(f))
      .groupBy(_.getName.stripPrefix("gen=").toInt)
    val addedBytes = Days.map(d => gens(d + 1).map(Files.bytes).sum)
    val filesReadLastDay = gens.collect {
      case (g, dirs) if g <= Days.last => dirs.map(Files.dataFiles).sum
    }.sum

    tr.span("DailyIngest.runAssets") {
      DailyIngest.runAssets(spark, fam, data, s"$work/assets").count()
    }
    tr.span("DailyIngest.runVectors") {
      DailyIngest.runVectors(spark, fam, data, s"$work/vectors").count()
    }
    tr.span("DailyIngest.foldDelta") {
      DailyIngest.foldDelta(spark, root, s"$work/folded",
        throughGen = Days.last + 1)
    }

    // the last day's gates again, split into their two legs
    val day = Days.last
    val batch = DailyIngest.split(spark, data, day, Set(day))._2
      .transform(Materialize.shared)
    def idx(name: String): DataFrame =
      spark.read.parquet(s"$root/$name.parquet")
        .filter(col("gen") <= day).drop("gen")
    val (bands, sets) = tr.span("LLMQueries.signatureTables") {
      val (b, s) = LLMQueries.signatureTables(batch)
      (Materialize.now(b), Materialize.now(s))
    }
    tr.span("DailyIngest.dispositionOf") {
      Workload.drain(DailyIngest.dispositionOf(batch, idx("text_hash"),
        idx("norm_hash"), idx("text_bands"), idx("text_sets"),
        idx("eval_grams"), idx("eval_bands"), idx("eval_sets"), bands, sets))
    }

    val dispositions = Days.map(d =>
      spark.read.parquet(s"$work/day$d/disposition.parquet"))
      .reduce(_.unionByName(_))
    val nBatch = dispositions.count()
    val nKept = dispositions.filter(col("disposition") === "kept").count()
    Map(
      "IndexStore.delta_mb_per_day" ->
        addedBytes.sum.toDouble / Days.size / 1e6,
      "IndexStore.delta_files_read_last_day" -> filesReadLastDay.toDouble,
      "DailyIngest.foldDelta.mb_rewritten" ->
        Files.bytes(new java.io.File(s"$work/folded")) / 1e6,
      // day 0 also pays the chain's cold start, so "first" is day 1
      "DailyIngest.day_last_over_first" -> dayWall.last / dayWall(1),
      "DailyIngest.kept_ratio" -> nKept.toDouble / math.max(nBatch, 1L))
  }
}

object Files {
  def children(f: java.io.File): Seq[java.io.File] =
    Option(f.listFiles()).map(_.toSeq.sortBy(_.getName)).getOrElse(Nil)

  def children(path: String): Seq[java.io.File] =
    children(new java.io.File(path))

  def bytes(f: java.io.File): Long =
    if (f.isDirectory) children(f).map(bytes).sum else f.length()

  /** Data files (not checksums or markers) under `f`. */
  def dataFiles(f: java.io.File): Int =
    if (f.isDirectory) children(f).map(dataFiles).sum
    else if (f.getName.startsWith("part-")) 1 else 0

  def wipe(path: String): Unit = {
    def rec(f: java.io.File): Unit = {
      if (f.isDirectory) children(f).foreach(rec)
      f.delete()
    }
    rec(new java.io.File(path))
  }
}
