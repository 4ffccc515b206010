package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Twenty-fourth tranche — the ANN index's MAINTENANCE POLICY (s25):
  * the decision layer that closes the index lifecycle the way q79/q80
  * closed the lakehouse's. The verbs exist and are oracle-checked —
  * build (s11/s20h), insert (s21), delete+repair (s22), re-embed
  * (s23) — but a real deployment doesn't run them on a cron of vibes;
  * it reads the index's churn statistics and dispatches. s25 IS that
  * dispatch, as an oracle-checked action report (the q80 convention:
  * the decision itself is data, so the gate checks the policy, not
  * just the verbs).
  *
  * Policy inputs are three ratios, all computable from asset-level
  * statistics (at 100 TB they ride in the index manifest the same way
  * [[graft.sources.TableMaintenance]]'s file counts ride in the table
  * manifest — the decision pass never scans data; here they are exact
  * ppm integers so the oracle gate is bit-stable):
  *
  *  - insert_frac: pending arrivals vs the indexed base — past
  *    [[INS_FOLD_PPM]], fold the arrivals in ([[Similarity.s21]]'s
  *    batch path) so intra-batch links stop being deferred;
  *  - delete_frac: tombstones vs the corpus — past
  *    [[DEL_REBUILD_PPM]], local repair has degraded enough structure
  *    that a full rebuild (s11) is cheaper than accumulated patching
  *    (the index analog of compaction-vs-rewrite);
  *  - damaged_edge_frac: serving edges pointing at tombstones vs all
  *    edges — past [[DMG_REPAIR_PPM]], run the local repair
  *    ([[Similarity.s22]]'s delete-with-repair) now, because every
  *    damaged edge is a dead end the beam search wastes a hop on;
  *  - codebook_staleness (r16 verdict #4): arrivals vs the live
  *    corpus — the share of what the IVF tier serves that its FROZEN
  *    quantizers ([[Relational13.s27]]'s insert contract) never
  *    trained on; past [[CB_RETRAIN_PPM]], retrain coarse+PQ and
  *    re-encode (the s23 re-embed machinery's cost shape).
  *
  * The decision row composes every breached action in severity order
  * (rebuild ≻ fold_inserts ≻ repair_deletes — a rebuild subsumes the
  * other two, a fold subsumes nothing), `noop` when quiet. The rules
  * reuse the s21/s22 membership predicates VERBATIM
  * ([[Similarity.arrivalRule]]/[[Similarity.tombstoneRule]] and their
  * SQL twins), so the policy can never drift from the faces it
  * schedules.
  */
object Relational24 extends graft.QueryModule {

  private[graft] val INS_FOLD_PPM = 100000L   // 10%
  private[graft] val DEL_REBUILD_PPM = 100000L // 10%
  private[graft] val DMG_REPAIR_PPM = 10000L  // 1%
  // IVF quantizer staleness (r16 verdict #4): share of the live
  // corpus the FROZEN coarse/PQ quantizers never trained on. Higher
  // bar than the graph-fold threshold — s27's frozen-codebook insert
  // degrades gracefully (arrivals still quantize exactly, just
  // against centroids that drift from the true Voronoi structure),
  // so retraining both quantizers + re-encoding the corpus is only
  // worth it at materially higher churn.
  private[graft] val CB_RETRAIN_PPM = 200000L // 20%

  /** The pure decision: breached actions in severity order, `noop`
    * when none (unit-tested over the breach combinations). */
  private[graft] def decideActions(delBreach: Boolean, insBreach: Boolean,
      dmgBreach: Boolean, cbBreach: Boolean = false): String = {
    val acts = Seq(
      if (delBreach) Some("rebuild") else None,
      if (insBreach) Some("fold_inserts") else None,
      if (dmgBreach) Some("repair_deletes") else None,
      if (cbBreach) Some("retrain_quantizers") else None).flatten
    if (acts.isEmpty) "noop" else acts.mkString(",")
  }

  /** The index maintenance policy report over the serving assets:
    * corpus counts from one embeddings aggregate, edge counts from
    * one pass over the materialized knn edge table (the serving
    * asset — the stats pass costs two skinny aggregates, never a
    * graph build), ratios as exact ppm floor-divisions, one report
    * row per metric plus the composed decision row.
    *
    * At 100 TB: both aggregates are single-pass map-side-combinable
    * counts; in a deployment they are maintained incrementally by
    * the ingest/tombstone streams (`AnnStream` counts its own
    * arrivals) and the decision is a driver-side comparison — the
    * TableMaintenance stance applied to the vector index. */
  def s25(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = Tables.load(s, dir, "embeddings")
    val cnt = emb.agg(
      count(lit(1)).as("n_corpus"),
      sum(when(Similarity.arrivalRule($"vec_id"), 1L).otherwise(0L))
        .as("n_arr"),
      sum(when(Similarity.tombstoneRule($"vec_id"), 1L).otherwise(0L))
        .as("n_tomb"))
    val ec = Similarity.materializedKnnEdges(s, dir).agg(
      count(lit(1)).as("n_edges"),
      sum(when(Similarity.tombstoneRule($"dst"), 1L).otherwise(0L))
        .as("n_dmg"))
    // zero-denominator guard (ADVICE r14): Spark `div` returns NULL on
    // a zero divisor where DuckDB `//` raises — a degenerate fixture
    // (all rows arrivals, or an empty edge table) must fail LOUDLY and
    // identically in both renderers, not hash-diverge. The guard lives
    // in the denominator expression itself (the guardedTot pattern) so
    // Catalyst cannot prune it.
    def guardedDen(den: org.apache.spark.sql.Column, tag: String) =
      when(den <= 0L, raise_error(concat(
        lit(s"s25: $tag denominator is zero/negative (degenerate fixture): "),
        den.cast("string")))).otherwise(den)
    val g = cnt.crossJoin(ec).select($"n_arr", $"n_tomb", $"n_dmg",
      guardedDen($"n_corpus" - $"n_arr", "ins_ppm").as("ins_den"),
      guardedDen($"n_corpus", "del_ppm").as("del_den"),
      guardedDen($"n_edges", "dmg_ppm").as("dmg_den"))
    val v = g.select(
      expr("(n_arr * 1000000) div ins_den").as("ins_ppm"),
      expr("(n_tomb * 1000000) div del_den").as("del_ppm"),
      expr("(n_dmg * 1000000) div dmg_den").as("dmg_ppm"),
      // quantizer staleness: arrivals vs the LIVE corpus (n_corpus
      // denominator — the question is "how much of what we serve did
      // training never see", not "how much grew vs the base")
      expr("(n_arr * 1000000) div del_den").as("cb_ppm"))
    val rows = v.select(explode(array(
        struct(lit("delete_frac").as("metric"), $"del_ppm".as("value_ppm"),
          lit(DEL_REBUILD_PPM).as("threshold_ppm"),
          ($"del_ppm" >= DEL_REBUILD_PPM).as("breached"),
          when($"del_ppm" >= DEL_REBUILD_PPM, "rebuild").otherwise("none")
            .as("action")),
        struct(lit("insert_frac").as("metric"), $"ins_ppm".as("value_ppm"),
          lit(INS_FOLD_PPM).as("threshold_ppm"),
          ($"ins_ppm" >= INS_FOLD_PPM).as("breached"),
          when($"ins_ppm" >= INS_FOLD_PPM, "fold_inserts").otherwise("none")
            .as("action")),
        struct(lit("damaged_edge_frac").as("metric"), $"dmg_ppm".as("value_ppm"),
          lit(DMG_REPAIR_PPM).as("threshold_ppm"),
          ($"dmg_ppm" >= DMG_REPAIR_PPM).as("breached"),
          when($"dmg_ppm" >= DMG_REPAIR_PPM, "repair_deletes")
            .otherwise("none").as("action")),
        struct(lit("codebook_staleness").as("metric"),
          $"cb_ppm".as("value_ppm"),
          lit(CB_RETRAIN_PPM).as("threshold_ppm"),
          ($"cb_ppm" >= CB_RETRAIN_PPM).as("breached"),
          when($"cb_ppm" >= CB_RETRAIN_PPM, "retrain_quantizers")
            .otherwise("none").as("action")),
        struct(lit("decision").as("metric"), lit(0L).as("value_ppm"),
          lit(0L).as("threshold_ppm"),
          ($"del_ppm" >= DEL_REBUILD_PPM || $"ins_ppm" >= INS_FOLD_PPM ||
            $"dmg_ppm" >= DMG_REPAIR_PPM ||
            $"cb_ppm" >= CB_RETRAIN_PPM).as("breached"),
          concat_ws(",",
            when($"del_ppm" >= DEL_REBUILD_PPM, "rebuild"),
            when($"ins_ppm" >= INS_FOLD_PPM, "fold_inserts"),
            when($"dmg_ppm" >= DMG_REPAIR_PPM, "repair_deletes"),
            when($"cb_ppm" >= CB_RETRAIN_PPM, "retrain_quantizers"))
            .as("action")))).as("r"))
      .select($"r.metric", $"r.value_ppm", $"r.threshold_ppm",
        $"r.breached",
        when($"r.metric" === "decision" && $"r.action" === "", "noop")
          .otherwise($"r.action").as("action"))
    rows.orderBy($"metric")
  }

  private lazy val s25Oracle: String = {
    val arr = Similarity.sqlArrivalPred("vec_id")
    val tombV = Similarity.sqlTombstonePred("vec_id")
    val tombD = Similarity.sqlTombstonePred("dst")
    s"""WITH ${Similarity.sqlKnnEdgeCtes},
       |cnt AS (SELECT CAST(count(*) AS BIGINT) AS n_corpus,
       |  CAST(sum(CASE WHEN $arr THEN 1 ELSE 0 END) AS BIGINT) AS n_arr,
       |  CAST(sum(CASE WHEN $tombV THEN 1 ELSE 0 END) AS BIGINT) AS n_tomb
       |  FROM embeddings),
       |ec AS (SELECT CAST(count(*) AS BIGINT) AS n_edges,
       |  CAST(sum(CASE WHEN $tombD THEN 1 ELSE 0 END) AS BIGINT) AS n_dmg
       |  FROM ed),
       |v AS (SELECT
       |  CAST((n_arr * 1000000) // (n_corpus - n_arr) AS BIGINT) AS ins_ppm,
       |  CAST((n_tomb * 1000000) // n_corpus AS BIGINT) AS del_ppm,
       |  CAST((n_dmg * 1000000) // n_edges AS BIGINT) AS dmg_ppm,
       |  CAST((n_arr * 1000000) // n_corpus AS BIGINT) AS cb_ppm
       |  FROM cnt CROSS JOIN ec),
       |rep AS (
       |  SELECT 'delete_frac' AS metric, del_ppm AS value_ppm,
       |    CAST($DEL_REBUILD_PPM AS BIGINT) AS threshold_ppm,
       |    del_ppm >= $DEL_REBUILD_PPM AS breached,
       |    CASE WHEN del_ppm >= $DEL_REBUILD_PPM THEN 'rebuild'
       |      ELSE 'none' END AS action FROM v
       |  UNION ALL
       |  SELECT 'insert_frac', ins_ppm, CAST($INS_FOLD_PPM AS BIGINT),
       |    ins_ppm >= $INS_FOLD_PPM,
       |    CASE WHEN ins_ppm >= $INS_FOLD_PPM THEN 'fold_inserts'
       |      ELSE 'none' END FROM v
       |  UNION ALL
       |  SELECT 'damaged_edge_frac', dmg_ppm, CAST($DMG_REPAIR_PPM AS BIGINT),
       |    dmg_ppm >= $DMG_REPAIR_PPM,
       |    CASE WHEN dmg_ppm >= $DMG_REPAIR_PPM THEN 'repair_deletes'
       |      ELSE 'none' END FROM v
       |  UNION ALL
       |  SELECT 'codebook_staleness', cb_ppm, CAST($CB_RETRAIN_PPM AS BIGINT),
       |    cb_ppm >= $CB_RETRAIN_PPM,
       |    CASE WHEN cb_ppm >= $CB_RETRAIN_PPM THEN 'retrain_quantizers'
       |      ELSE 'none' END FROM v
       |  UNION ALL
       |  SELECT 'decision', CAST(0 AS BIGINT), CAST(0 AS BIGINT),
       |    del_ppm >= $DEL_REBUILD_PPM OR ins_ppm >= $INS_FOLD_PPM
       |      OR dmg_ppm >= $DMG_REPAIR_PPM OR cb_ppm >= $CB_RETRAIN_PPM,
       |    CASE WHEN concat_ws(',',
       |        CASE WHEN del_ppm >= $DEL_REBUILD_PPM THEN 'rebuild' END,
       |        CASE WHEN ins_ppm >= $INS_FOLD_PPM THEN 'fold_inserts' END,
       |        CASE WHEN dmg_ppm >= $DMG_REPAIR_PPM THEN 'repair_deletes' END,
       |        CASE WHEN cb_ppm >= $CB_RETRAIN_PPM THEN 'retrain_quantizers' END)
       |        = '' THEN 'noop'
       |      ELSE concat_ws(',',
       |        CASE WHEN del_ppm >= $DEL_REBUILD_PPM THEN 'rebuild' END,
       |        CASE WHEN ins_ppm >= $INS_FOLD_PPM THEN 'fold_inserts' END,
       |        CASE WHEN dmg_ppm >= $DMG_REPAIR_PPM THEN 'repair_deletes' END,
       |        CASE WHEN cb_ppm >= $CB_RETRAIN_PPM THEN 'retrain_quantizers' END)
       |      END FROM v)
       |SELECT metric, value_ppm, threshold_ppm, breached, action
       |FROM rep ORDER BY metric""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s25_index_policy" -> (s25 _))

  val oracles: Map[String, String] = Map(
    "s25_index_policy" -> s25Oracle)
}
