package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{PerfbenchFrames, SparkEntry, Tables}
import graft.api._
import graft.dedup.DedupOps
import graft.sources.Sinks

/** The Bench-style forcing action: hash every output column, so no
  * projection can be pruned away, and return the order-free xor of the
  * row hashes (the same value for the same rows on every run). */
object Force {
  def apply(df: DataFrame): Long = {
    val r = df.agg(bit_xor(xxhash64(df.columns.map(col): _*))).collect()(0)
    if (r.isNullAt(0)) 0L else r.getLong(0)
  }
}

/** The context of one operation: where its sinks write, the wall time of
  * its sink calls and, in a traced operation, the tracer that attributes
  * sub-steps. */
final class OpCtx(spark: SparkSession, val outDir: String, val tracer: Option[Tracer]) {
  var sinkS = 0.0
  /** One sub-step; the non-shared blocks it leaves are swept after it. */
  def step[T](usesShared: Boolean = false)(body: => T): T = {
    val r = tracer.fold(body)(_.step(usesShared)(body))
    Main.sweep(spark)
    r
  }
  /** Write `df` with `Sinks.parquet` as output `name`; returns its path. */
  def sink(df: DataFrame, name: String): (String, String) = {
    val path = s"$outDir/$name"
    sinkS += Clock.time(Sinks.parquet(df, path))._2
    name -> path
  }
}

/** One workload: the timed operation and a stage probe that times each
  * layer's stages separately in a traced run.
  * The operation writes its outputs as parquet and returns their paths by
  * name; `checks` maps every output name to the registry query whose
  * DuckDB oracle SQL (`SparkEntry.oracleSql`) checks it. */
trait Workload {
  def tables: Seq[String]
  def checks: Map[String, String]
  def op(spark: SparkSession, dir: String, ctx: OpCtx): Map[String, String]
  def probe(spark: SparkSession, dir: String): Map[String, Double]
}

/** Times `body` in seconds. */
object Clock {
  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

/** §3 cohort → features → selection → stay tensors, through `graft.api`,
  * from the input tables to parquet on disk. The visit, patient and
  * measurement frames are the registry's own harness mappings
  * (`PerfbenchFrames`), which the `e2e_*` oracles replay in SQL, and every
  * output is one of those oracles' frames, so each sink is checked against
  * DuckDB. Unlike the registry queries, the chain pins nothing: one pass
  * recomputes the prefixes its outputs share. */
object CohortEtl extends Workload {
  val tables = Seq("customer", "orders", "lineitem")
  val checks: Map[String, String] = Map(
    "cohort_mortality" -> "e2e_cohort_mortality",
    "cohort_readmit30" -> "e2e_cohort_readmit30",
    "cohort_los7" -> "e2e_cohort_los7",
    "features_clean" -> "e2e_features_clean",
    "stay_tensors" -> "e2e_stay_tensors",
    "readmit_meds" -> "e2e_stay_tensors_readmit_meds")

  /** The chain's frames, stage by stage. */
  private final case class Chain(cohorts: Seq[(String, DataFrame)], events: DataFrame,
      clean: DataFrame, selected: DataFrame, tensors: DataFrame, meds: DataFrame)

  private def chain(s: SparkSession, d: String,
      materialize: DataFrame => DataFrame = identity): Chain = {
    def cohort(t: Task) = CohortExtractor.extract(PerfbenchFrames.visits(s, d),
      PerfbenchFrames.patients(s, d), CohortConfig(task = t))
    val mortality = materialize(cohort(Mortality("dod")))
    val cohorts = Seq(
      "cohort_mortality" -> mortality,
      "cohort_readmit30" -> cohort(Readmission(30, strictOverlap = true)),
      "cohort_los7" -> cohort(LengthOfStay(7)))
      .map { case (n, df) => n -> df.select("hadm_id", "subject_id", "label") }
    val events = materialize(FeatureExtractor.eventsForCohort(
      PerfbenchFrames.measures(s, d), mortality, "hadm_id", "charttime", "admittime"))
    val clean = FeatureExtractor.cleanMeasurements(events, "itemid", "uom", "val_cents",
        0.5, 0.02, 0.98)
      .select(col("hadm_id"), col("itemid"), col("event_offset_h"), col("uom"),
        round(col("val_cents"), 4).as("val_clamped"))
    val keep = events.groupBy("itemid").agg(count(lit(1)).as("__c"))
      .orderBy(col("__c").desc, col("itemid").asc).limit(25).select("itemid")
    val selected = materialize(FeatureSelector.select(events, "itemid", keep))
    val bucketed = TimeSeriesGenerator.bucketedFeatures(selected, "hadm_id",
      "event_offset_h", "itemid", "val_cents", includeH = 720, bucketH = 24)
    val tensors = TimeSeriesGenerator.densifyAndImpute(bucketed, "hadm_id", "itemid",
        nBuckets = 30)
      .select(col("hadm_id"), col("itemid"), col("bucket"),
        round(col("value_imputed") / 100.0, 4).as("val_imputed"))
    val intervals = selected.select(col("hadm_id"), col("itemid"),
      (col("event_offset_h") % 497).as("start_h"),
      (col("event_offset_h") % 497 + (col("itemid") % 96 + 1)).as("stop_h"))
    val los = mortality.select(col("hadm_id"),
      floor((unix_timestamp(col("dischtime")) -
        unix_timestamp(col("admittime"))) / 3600L).as("los_h"))
    val clipped = TimeSeriesGenerator.shiftClipIntervals(intervals, "hadm_id",
      "start_h", "stop_h", los, "los_h", includeH = 72, window = LastWindow)
    val meds = TimeSeriesGenerator.activeMedSignal(clipped, "hadm_id", "itemid",
      "start_h", "stop_h", includeH = 72, bucketH = 24)
    Chain(cohorts, events, clean, selected, tensors, meds)
  }

  def op(spark: SparkSession, dir: String, ctx: OpCtx): Map[String, String] = {
    val c = chain(spark, dir)
    val outs = c.cohorts ++ Seq("features_clean" -> c.clean,
      "stay_tensors" -> c.tensors, "readmit_meds" -> c.meds)
    outs.map { case (n, df) => ctx.step()(ctx.sink(df, n)) }.toMap
  }

  /** api self times: each stage boundary is materialized, so a stage's
    * time is its own work over already-computed inputs. */
  def probe(spark: SparkSession, dir: String): Map[String, Double] = {
    val c = chain(spark, dir, _.localCheckpoint(false))
    val cohortS = Clock.time(c.cohorts.foreach(x => Force(x._2)))._2
    val featS = Clock.time(Force(c.clean))._2
    val selS = Clock.time(Force(c.selected))._2
    val tenS = Clock.time { Force(c.meds); Force(c.tensors) }._2
    val rows = c.tensors.count()
    Map("api.cohort_s" -> cohortS, "api.features_s" -> featS,
      "api.select_s" -> selS, "api.tensors_s" -> tenS, "api.tensor_rows" -> rows.toDouble)
  }
}

/** One LLM-data curation session per operation: the CorpusCurator chain,
  * the near-duplicate pairs and their connected components, then the span
  * and LM families over their shared (pinned) frames — each shared frame
  * built once per session. Every result is written with `Sinks.parquet`. */
object CurateSession extends Workload {
  val tables = Seq("documents")
  /** The family queries of the session: the span family's composed query
    * and its duplicate-span pairs, the LM family's bigram model and its
    * composed quality gate. */
  val families = Seq("e2e_span_family", "d23_dupspan_pairs", "t28_bigram_lm",
    "e2e_quality_gate")
  val checks: Map[String, String] = Map(
    "curated" -> "e2e_corpus_curate",
    "neardup_pairs" -> "d03_lsh_neardup",
    "neardup_components" -> "d08_dedup_components") ++ families.map(q => q -> q)

  private def corpus(s: SparkSession, d: String) = {
    val docs = Tables.documents(s, d)
    (docs.filter(col("doc_id") % 37 =!= 0), docs.filter(col("doc_id") % 37 === 0))
  }

  def op(spark: SparkSession, dir: String, ctx: OpCtx): Map[String, String] = {
    SparkEntry.resetShared(spark)
    val (docs, bench) = corpus(spark, dir)
    val curated = ctx.step()(ctx.sink(CorpusCurator.curate(docs, bench)
      .select("doc_id", "source", "n_tokens", "bin_id"), "curated"))
    val pairs = ctx.step()(ctx.sink(DedupOps.nearDupPairs(Tables.documents(spark, dir),
      "doc_id", "text", 3, 12, 6, 0.5), "neardup_pairs"))
    val comps = ctx.step()(ctx.sink(DedupOps.connectedComponents(
      spark.read.parquet(pairs._2), "id_a", "id_b"), "neardup_components"))
    val fam = families.map(q =>
      ctx.step(usesShared = true)(ctx.sink(SparkEntry.queries(q)(spark, dir), q)))
    (Seq(curated, pairs, comps) ++ fam).toMap
  }

  /** curator stage self times (each stage boundary materialized, as
    * `CorpusCurator.curate` itself does) and the dedup layer's counts. */
  def probe(spark: SparkSession, dir: String): Map[String, Double] = {
    val (docs, bench) = corpus(spark, dir)
    val cfg = CorpusCurator.Config()
    def stage(df: => DataFrame): (DataFrame, Double) =
      Clock.time(df.localCheckpoint(true))
    val (q, qS) = stage(CorpusCurator.qualityFilter(docs, cfg))
    val (e, eS) = stage(CorpusCurator.exactDedup(q, cfg))
    val (n, nS) = stage(CorpusCurator.nearDedup(e, cfg))
    val (d, dS) = stage(CorpusCurator.decontaminate(n, bench, cfg))
    val (_, pS) = Clock.time(Force(CorpusCurator.pack(CorpusCurator.sample(d, cfg), cfg)))
    val all = Tables.documents(spark, dir)
    val sh = DedupOps.withShingles(all, "doc_id", "text", 3).localCheckpoint(true)
    val cands = DedupOps.lshCandidatePairs(DedupOps.lshBandKeys(
      DedupOps.signaturesFromShingles(sh, "doc_id", 12), "doc_id", 6, 2), "doc_id")
      .localCheckpoint(true)
    val verified = DedupOps.jaccardVerify(cands, sh, "doc_id", 0.5).localCheckpoint(true)
    val (nCand, nVer) = (cands.count().toDouble, verified.count().toDouble)
    val ccS = Clock.time(Force(DedupOps.connectedComponents(verified, "id_a", "id_b")))._2
    Map("curator.quality_s" -> qS, "curator.exact_dedup_s" -> eS,
      "curator.near_dedup_s" -> nS, "curator.decontam_s" -> dS, "curator.pack_s" -> pS,
      "dedup.candidate_pairs" -> nCand, "dedup.verified_pairs" -> nVer,
      "dedup.verify_ratio" -> (if (nCand > 0) nVer / nCand else 0.0),
      "dedup.cc_s" -> ccS)
  }
}
