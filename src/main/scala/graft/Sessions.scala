package graft

import org.apache.spark.sql.SparkSession

/** Shared session tuning for every graft entry point (Bench, Verify,
  * Export, tests). One place so the settings can't drift:
  *
  *  - AQE + partition coalescing: the driver may run with
  *    SPARK_GRAFT_CPUS=32, which makes `spark.sql.shuffle.partitions`
  *    32 — on sub-GB inputs that is hundreds of near-empty post-shuffle
  *    tasks whose scheduling overhead dominates small queries. AQE
  *    coalesces them to the advisory size at runtime (and splits skewed
  *    ones at scale), so wall-clock is robust to the cpu setting.
  *  - `spark.sql.legacy.parquet.nanosAsLong`: the events fixture may
  *    be parquet TIMESTAMP(NANOS), which Spark rejects outright
  *    ([[Tables.schemaOf]] then fails with this guidance). Set once
  *    at construction — flipping it inside a loader would leak a
  *    session-global conf change as a read side effect and be racy
  *    under concurrent loads.
  *  - UTC session time zone: oracle (DuckDB) parity for all timestamp
  *    rendering and arithmetic.
  *  - ANSI mode, pinned: integer and DECIMAL overflow raise
  *    `ARITHMETIC_OVERFLOW` instead of wrapping or turning NULL, so a
  *    value outside an operator's documented envelope fails loudly
  *    (OverflowSpec). Spark 4 defaults it on; the pin keeps a
  *    deployment's spark-defaults from switching it off underneath.
  */
object Sessions {
  def builder(appName: String, master: String,
      shufflePartitions: String): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName(appName)
      // the full SQL-function surface, injected at construction (the
      // same class a stock deployment names in spark.sql.extensions)
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.ansi.enabled", "true")
}
