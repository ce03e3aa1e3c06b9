package graft.queries

import graft.Catalog.Q

/** Event-time suite over `events` (SURVEY.md §2.7/§7.4 extension surface):
  * `from_json` property extraction, tumbling and sliding event-time
  * windows, sessionization both ways (gaps-and-islands and Spark's
  * `session_window`), and keyed first-event dedup. These run in batch so
  * the DuckDB oracle can check them; the same expressions run unchanged
  * under Structured Streaming (see graft.streaming) with `withWatermark`
  * bounding state.
  *
  * ## 100 TB notes
  *  - Tumbling/sliding windows are plain hash aggregates on
  *    (window, keys): partial agg map-side, one shuffle on the group key.
  *    A sliding window multiplies rows by windows-per-event (2 here) BEFORE
  *    the partial agg — still linear, never materialized globally.
  *  - Sessionization shuffles once on user_id (the window partition key),
  *    then every window function and the final session aggregate reuse
  *    that partitioning — Catalyst plans a single Exchange.
  *  - Timestamps: the load seam normalizes `ts` to BIGINT ns whatever
  *    the fixture stores (see Tables.normalizeEventTs); DuckDB reads the
  *    same file via CAST(ts AS TIMESTAMP) — outputs are epoch-µs BIGINTs
  *    on both sides (never raw timestamps).
  */
object EventQueries extends EventWindowQueries
    with EventStreamingQueries with EventStatsQueries {
  val all: Seq[Q] =
    Seq(q31HourlyFromJson, q32SlidingWindow, q33Sessionize, q34SessionWindow,
      q35EventFirst, q37AsofJoin, q38RangeJoin, q50AsofForward,
      q64StreamHourly, q66StreamDedup, q73SaltedAgg, q74EventGaps,
      q75StreamSessions, q76StreamLateDrop, q78StreamIntervalJoin,
      q80CohortRetention, q83StreamStaticEnrich, q84ForeachBatchUpsert,
      q85MovingAverage, q86SessionFunnel, q90GapFill, q95HourlyAnomaly,
      q103DecayedEngagement, q105SkewProfile, q106RollupReuse,
      q107StreamOuterJoin, q108TrendOls, q109CompactionPlan,
      q115SaltedJoin, q119StreamRunningTotals, q120CmsHeavyHitters,
      q122MarkovTransitions, q123RollingDistinct, q127GiniDiversity,
      q128Chi2Cells, q131FirstTouch, q132DwellTime, q140TvDrift,
      q141HllUnion, q142AssocRules, q143CusumChangepoint, q144SurvivalKm,
      q145JsonSurface, q146LinearAttribution, q147Ols2, q148AbZtest,
      q149BitmapIntersect, q150RatioToParent, q151Twap,
      q152MaxConcurrency, q154GrowthAccounting, q155ParetoCoverage,
      q158ModalType, q159ArgmaxPurchase, q161Autocorr, q170ConversionLag,
      q174RfmSegments, q179InterpolateGaps, q181AucRanksum,
      q185SeqPatterns, q186DecileLift, q188SrmCheck, q192KsTest,
      q199PurgedCvFolds, q201CupedAudit, q210EntryExitBounce,
      q215TrigramPaths, q232TimeDecayAttribution, q233TransitionDwell,
      q238ProcessConformance, q239DiffInDiff, q244DoubleFire, q248LeadLagXcorr, q251ConcurrencyProfile, q254ActivityHeatmap,
      q264RecordHighs, q265StreamTwsTotals, q266StreamTwsSessions,
      q267LayoutPruning, q275StreamTwsTopk, q276StreamTwsTypeCounts,
      q277IncrementalGold, q278RetractableAgg, q279RestatementScope,
      q280WatermarkCurve, q282RleProfile, q283ManifestTimeTravel,
      q284StreamIncrementalGold, q293ManifestChangeFeed,
      q294ManifestFeedResume,
      q286MetronomeRank, q287PartitionBalance, q288QteDeciles,
      q289SaltingBalance)
}
