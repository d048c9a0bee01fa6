package graft.spark

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The engine's two deployment policies, each decided once: how an entry
  * point builds its session, and how an intermediate with several
  * consumers is computed once.
  */
object SparkRuntime {

  /** The session the engine's entry points run in (`graft.Bench`'s
    * configuration): `local[cores]`, 8 × cores shuffle partitions, AQE with
    * a 2m advisory partition size, UTC, no UI, and co-partitioned joins on a
    * subset of the cluster keys. A caller adds its deployment paths
    * (warehouse, local dir) before `getOrCreate`.
    */
  def builder(cores: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", 8 * cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "2m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.requireAllClusterKeysForCoPartition", "false")

  /** `df` computed once for all of its consumers: a lazy local checkpoint.
    *   - The input runs once, at the first action that needs it, after AQE
    *     has planned it; every later consumer reads the stored blocks.
    *   - Under AQE (the engine's setting) it keeps neither the input's
    *     partitioning nor its ordering: a consumer keyed or sorted like the
    *     input plans its own exchange or sort. A computed `persist` keeps
    *     both.
    *   - The blocks are executor-local and the lineage is cut: an executor
    *     loss fails the job that reads them, and re-running the job is the
    *     recovery.
    */
  def materialize(df: DataFrame): DataFrame = df.localCheckpoint(eager = false)
}
