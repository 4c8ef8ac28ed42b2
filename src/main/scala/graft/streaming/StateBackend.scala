package graft.streaming

import org.apache.spark.sql.SparkSession

/** State-store backend selection for the stateful streaming family
  * ([[StreamDedup]] bucket state, [[CorpusStream]] /
  * `Ingest.dedupStream` watermark dedup, [[AuditSession]] session
  * buffers).
  *
  * Spark's default provider (HDFSBackedStateStoreProvider) keeps every
  * state key in executor HEAP: fine for audit session buffers (bounded
  * by concurrently open sessions), fatal for dedup state at
  * corpus scale — a continuously ingested 100 TB corpus' seen-key space
  * outgrows any JVM heap long before it outgrows a disk. The built-in
  * RocksDB provider keeps state in native memory + local SSD with
  * bounded block cache, which is the standard production posture for
  * large-keyspace streaming dedup; since r8 the UNBOUNDED-keyspace
  * builders therefore default the session onto RocksDB
  * ([[defaultToRocksDB]], opt-out via `graft.streaming.state.heapDefault`),
  * while the bounded-state family (audit sessionization) leaves the
  * conf alone. The LTS rollup stream keeps no state at all.
  *
  * The provider class is a SESSION conf that each streaming query
  * captures at start and PINS into its checkpoint's offset-log metadata
  * (`OffsetSeqMetadata` records `spark.sql.streaming.stateStore.
  * providerClass` alongside shuffle partitions): a query started under
  * RocksDB restarts on RocksDB from the same checkpoint even if the
  * session conf has since changed — which is what makes [[withRocksDB]]'s
  * scoped set-and-restore safe next to concurrently running queries, and
  * what RocksDbStateSpec's restart case proves.
  */
object StateBackend {
  val ProviderKey = "spark.sql.streaming.stateStore.providerClass"
  val RocksDB =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
  val Heap =
    "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"

  /** Session opt-out for [[defaultToRocksDB]]: set to "true" to keep the
    * heap provider as the session default even for unbounded-keyspace
    * streams (tiny fixtures, constrained local disks).
    */
  val HeapDefaultKey = "graft.streaming.state.heapDefault"

  /** Called by the UNBOUNDED-keyspace stream builders (the dedup family:
    * [[StreamDedup.candidates]]/[[StreamDedup.candidatesWithTtl]],
    * `Ingest.dedupStream` — state keyed by content, growing with the
    * corpus): flips the SESSION default provider to RocksDB unless the
    * session opted out ([[HeapDefaultKey]]) or the caller pinned ANY
    * provider explicitly — an explicit `conf.set(ProviderKey, Heap)`
    * (detected via the set-entries map, which a registered default does
    * not appear in) is the user's documented choice and is respected,
    * not just a non-default value.
    *
    * Sticky by design: the provider is captured when a query STARTS, not
    * when its plan is built, so a scoped set-and-restore around a builder
    * (which returns an unstarted plan) would never reach `.start()`. The
    * flip therefore persists for subsequently started stateful queries in
    * the session — safe, because RocksDB is correct (merely unnecessary)
    * for bounded state too; sessions that want heap for a specific query
    * use [[withHeap]] around its start, and a query started earlier keeps
    * whatever its checkpoint pinned regardless.
    */
  def defaultToRocksDB(spark: SparkSession): Unit = {
    val optOut = spark.conf.getOption(HeapDefaultKey).contains("true") ||
      sys.props.get(HeapDefaultKey).contains("true")
    if (!optOut && !spark.conf.getAll.contains(ProviderKey))
      spark.conf.set(ProviderKey, RocksDB)
  }

  /** Start streaming queries inside `body` on the RocksDB state store;
    * restores the prior provider conf after. Already-running queries are
    * unaffected (their provider is pinned in their checkpoints).
    */
  def withRocksDB[T](spark: SparkSession)(body: => T): T =
    withProvider(spark, RocksDB)(body)

  /** [[withRocksDB]]'s inverse — scoped heap provider for bounded-state
    * queries started in a session whose default has been flipped. Also
    * raises the [[HeapDefaultKey]] opt-out for the scope, so an
    * unbounded-keyspace builder invoked INSIDE the scope cannot flip the
    * provider back out from under the caller's explicit choice.
    */
  def withHeap[T](spark: SparkSession)(body: => T): T = {
    val prevOptOut = spark.conf.getOption(HeapDefaultKey)
    spark.conf.set(HeapDefaultKey, "true")
    try withProvider(spark, Heap)(body)
    finally prevOptOut match {
      case Some(v) => spark.conf.set(HeapDefaultKey, v)
      case None    => spark.conf.unset(HeapDefaultKey)
    }
  }

  private def withProvider[T](spark: SparkSession, provider: String)(
      body: => T): T = {
    val prev = spark.conf.getOption(ProviderKey)
    spark.conf.set(ProviderKey, provider)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(ProviderKey, v)
      case None    => spark.conf.unset(ProviderKey)
    }
  }
}
