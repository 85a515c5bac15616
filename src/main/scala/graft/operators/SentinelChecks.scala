package graft.operators

import org.apache.spark.sql.functions.col

import graft.sources.ArtifactSentinel.Check
import graft.sources.IndexCatalog
import graft.sources.IndexCatalog.tag

/** Registry of [[graft.sources.ArtifactSentinel]] checks — every
  * catalog artifact backing a FULL-AGGREGATE consumer (round-12 verdict
  * items 2+7: a query that aggregates over the entire served relation is
  * poisoned by any stale row, where a top-k consumer can stay green on a
  * stale tail; `q_quality_tertiles` was the round-11/12 escape).
  *
  * Covered, with the consumer that motivates each:
  *  - `kn_scores`           → `q_quality_tertiles` / `q_quality_mixture`
  *    band the WHOLE score frame into tertiles;
  *  - `boilerplate/list`    → `q_line_dupes` emits the whole list;
  *  - `boilerplate/excised` → `q_line_excise` emits every doc's excision;
  *  - `dsir_weights`        → `q_dsir_weights` emits every doc's weight;
  *  - `binary` (codes)      → the four `q_ann_binary*` queries rank over
  *    the WHOLE code table; a stale tail row can stay out of every top-k
  *    (green gate) while silently mis-shortlisting, so the byte check is
  *    the only attributable audit;
  *  - `v2manifest`          → `q_corpus_schedule_served` aggregates the
  *    whole train slice into the epoch schedule; its `lvl` table →
  *    `q_corpus_pipeline_v2_served` aggregates EVERY doc's level;
  *  - `v2manifest_pareto`'s `lvl` table →
  *    `q_corpus_pipeline_pareto_served` (same full-aggregate shape
  *    under the other admission dial);
  *  - `winnow_fp`           → the root of the winnow chain: topk/partners
  *    live plans RECOMPUTE FROM IT, so only a direct sentinel vs the
  *    corpus-level plan can catch it stale;
  *  - `winnow_topk/topk` and `/partners` → `q_winnow_matches_topk` /
  *    `q_winnow_partner_stats` read the whole relation.
  *
  * Artifacts NOT listed are consumed through bounded/keyed reads (top-25
  * serving joins, per-id probes) or are fixtures with no live twin
  * (avro fixtures ARE the source of truth). Keep this list in sync when
  * adding a full-aggregate consumer over a new artifact.
  */
object SentinelChecks {

  val all: Seq[Check] = Seq(
    Check("kn_scores",
      d => s"kn_scores_${tag(d)}",
      (s, d) => LangModelQueries.knScores(s, d),
      (s, d) => LangModelQueries.knScoresLive(s, d)),
    Check("boilerplate_list",
      d => s"boilerplate_${tag(d)}",
      (s, d) => IndexCatalog.read(s, BoilerplateQueries.boilerplateDir(s, d), "list"),
      (s, d) => BoilerplateQueries.listOf(BoilerplateQueries.segments(s, d))),
    Check("boilerplate_excised",
      d => s"boilerplate_${tag(d)}",
      (s, d) => IndexCatalog.read(s, BoilerplateQueries.boilerplateDir(s, d), "excised"),
      (s, d) => {
        val seg = BoilerplateQueries.segments(s, d)
        BoilerplateQueries.exciseFrom(seg,
          BoilerplateQueries.listOf(seg).select(col("seg").as("bseg")))
      }),
    Check("dsir_weights",
      d => s"dsir_weights_${tag(d)}",
      (s, d) => DsirQueries.weightsTable(s, d),
      (s, d) => DsirQueries.weightsFrame(s, d)),
    Check("ann_binary_codes",
      d => s"binary_${tag(d)}",
      (s, d) => BinaryIndex.words(s, d),
      (s, d) => SimilarityQueries.binaryWords(s, d)),
    Check("v2_manifest",
      d => s"v2manifest_${tag(d)}",
      (s, d) => V2ManifestIndex.manifest(s, d),
      (s, d) => graft.pipeline.CorpusPipeline.manifestV2(s, d)),
    Check("v2_lvl",
      d => s"v2manifest_${tag(d)}",
      (s, d) => V2ManifestIndex.lvlFrame(s, d),
      (s, d) => PipelineV2Queries.survivorFrame(s, d)),
    Check("v2_lvl_pareto",
      d => s"v2manifest_pareto_${tag(d)}",
      (s, d) => V2ManifestIndex.lvlFrame(s, d, pareto = true),
      (s, d) => PipelineV2Queries.survivorFrame(s, d, pareto = true)),
    Check("winnow_fp",
      d => s"winnow_fp_${tag(d)}",
      (s, d) => WinnowQueries.fingerprintTable(s, d),
      (s, d) => WinnowQueries.fingerprintLive(s, d)),
    Check("winnow_topk",
      d => s"winnow_topk_${tag(d)}",
      (s, d) => IndexCatalog.read(s, WinnowQueries.topkDir(s, d), "topk"),
      (s, d) => WinnowQueries.topkOf(
        WinnowQueries.symOf(WinnowQueries.matchPairs(s, d)))),
    Check("winnow_partners",
      d => s"winnow_topk_${tag(d)}",
      (s, d) => IndexCatalog.read(s, WinnowQueries.topkDir(s, d), "partners"),
      (s, d) => WinnowQueries.partnersOf(
        WinnowQueries.symOf(WinnowQueries.matchPairs(s, d)))))
}
