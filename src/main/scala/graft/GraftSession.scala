package graft

import org.apache.spark.sql.SparkSession

/** Session factory for the graft engine.
  *
  * Mirrors the reference deployment's engine configuration surface
  * (reference: ansible/roles/trino/templates/values.yml.j2:7-19 — memory,
  * worker parallelism) re-expressed as Spark conf: AQE on, shuffle
  * parallelism sized to local cores (not the 200 default), runtime
  * bloom-filter join pruning standing in for Trino's dynamic filtering
  * (reference: results/q003/workers-1/explain.txt:53-54).
  *
  * At 100 TB scale the same conf carries over: AQE coalesces/re-plans at
  * shuffle boundaries, skew-join handling is enabled, and broadcast
  * threshold stays at the 10 MB default so dimension tables broadcast
  * while facts shuffle.
  */
object GraftSession {

  /** Conf applied to every session (local test or cluster submit). */
  def configure(b: SparkSession.Builder): SparkSession.Builder = b
    .config("spark.sql.extensions", "graft.plans.GraftExtensions")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
    .config("spark.sql.adaptive.skewJoin.enabled", "true")
    // Trino-style dynamic filtering analogue: runtime bloom filters pushed
    // into the probe side of shuffled joins.
    .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    .config("spark.sql.parquet.aggregatePushdown", "true")
    // Trino-style connector join pushdown (reference: q004
    // explain.txt:70 — a whole LEFT JOIN shipped into psql): DSv2 scans
    // over the same JDBC source fuse into one remote join subquery.
    .config("spark.sql.optimizer.datasourceV2JoinPushdown", "true")
    // The events table carries TIMESTAMP(NANOS) parquet, which Spark 4
    // rejects by default; read as long and convert in Tables.events.
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    // Federated three-part naming (reference: psql/mongodb/elastic
    // catalogs, values.yml.j2:34-61) with the loader's table placement
    // (loader.py:313-322): facts and dims in psql, the second-store
    // facts in mongodb, the document corpus behind the elastic WIRE
    // catalog below.
    .config("spark.sql.catalog.psql", "graft.sources.GraftParquetCatalog")
    .config("spark.sql.catalog.psql.tables",
      "region,nation,customer,supplier,part,lineitem")
    // the mongodb role is a REAL wire connector: OP_MSG/BSON against
    // an in-process server, `_schema`-collection schemas, _id-range
    // partition splits, cursor-batched reads (GraftMongoSource;
    // schema contract mirrors `mongodb.schema-collection=_schema`,
    // values.yml.j2:62)
    .config("spark.sql.catalog.mongodb", "graft.sources.GraftMongoCatalog")
    .config("spark.sql.catalog.mongodb.batchSize", "1000")
    .config("spark.sql.catalog.mongodb.partitions", "4")
    // the elastic role is a REAL wire connector: scroll-paged HTTP
    // against an in-process ES-API server, filter/projection pushdown
    // rendered into the request (GraftElasticSource; page size mirrors
    // the reference's elasticsearch.scroll-size=1000, values.yml.j2:53)
    .config("spark.sql.catalog.elastic", "graft.sources.GraftElasticCatalog")
    .config("spark.sql.catalog.elastic.pageSize", "1000")
    .config("spark.sql.catalog.elastic.slices", "4")
    // wire-protocol surface (GraftSqlServer): static confs must ride
    // the session build. Single-session shares this session's temp
    // views/catalogs with Thrift clients; incremental collect streams
    // result partitions to the wire instead of a full driver collect.
    .config("spark.sql.hive.thriftServer.singleSession", "true")
    .config("spark.sql.thriftServer.incrementalCollect", "true")
    .config("spark.ui.enabled", "false")

  /** Local session used by Verify/Bench/tests. */
  def local(cpus: String): SparkSession = {
    // shuffle/spill files on tmpfs: this VM's block device shows
    // sporadic multi-second sync stalls that dominate small-SF timings
    // (a real cluster would use node-local NVMe here)
    val localDir = new java.io.File("/dev/shm/graft-spark")
    localDir.mkdirs()
    val base = SparkSession.builder()
        .master(s"local[$cpus]")
        .appName("graft")
        .config("spark.local.dir", localDir.getAbsolutePath)
        .config("spark.sql.shuffle.partitions", cpus)
    // r20: the r19 `spark.sql.files.minPartitionNum = cpus` scan floor
    // was REMOVED after being measured as a no-op: Spark already
    // defaults the floor to leafNodeDefaultParallelism (= the local
    // core count), and the 4 MB filesOpenCostInBytes clamp governs
    // either way — lineitem sf0.1 scans as 3 splits and documents as
    // 1 split with AND without the conf (partition counts verified
    // empirically, OPTIMIZATION_r20.md). The r19 d10 improvement
    // attributed to it came from the codegen cache + zero-shuffle
    // work in the same commit; the r19 driver-run q04 elevation
    // attributed to it did not reproduce under any knob setting
    // (r9-style environmental blip — see OPTIMIZATION_r20.md).
    val spark = configure(base
        // The generated-code cache defaults to 100 entries; this
        // engine's 215-entry surface (and any one of its heavy ANN
        // composites alone) produces far more distinct codegen units
        // than that, so the default thrashes and every execution
        // re-compiles its kernels on the driver — measured r19: s12
        // 7.55 → 5.37 s, s19 7.46 → 5.71 s from this one setting.
        // Scale-neutral (driver-memory-bounded cache of compiled
        // classes; production drivers with many distinct query shapes
        // raise it for the same reason).
        .config("spark.sql.codegen.cache.maxEntries", "5000")
    ).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    functions.TrinoFunctions.register(spark)
    functions.VectorFunctions.register(spark)
    spark
  }
}
