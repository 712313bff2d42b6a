package graft

import org.apache.spark.sql.SparkSession

/** Tuned local SparkSession factory used by specs and ad-hoc runs.
  *
  * The settings mirror what we'd ship on a real cluster: AQE on (runtime
  * re-planning, skew-join splitting, partition coalescing), shuffle
  * parallelism matched to cores instead of the 200 default, UTC session
  * time zone for oracle parity.
  */
object GraftSession {
  def get(appName: String = "graft"): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession
      .builder()
      .master(s"local[$cpus]")
      .appName(appName)
      // build-time extensions: the analyzer rules (V2-catalog bridge)
      // can only inject here — register() below covers the rest on
      // sessions someone else built
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.catalog.graft", "graft.tables.GraftCatalog")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // every stage's task binary and every broadcast join serializes
      // through one broadcast-block-sized buffer (4 MB by default)
      // before it is trimmed to its real size (a few KB here). At 4 MB
      // that buffer is a G1 HUMONGOUS object on heaps below 64 GB,
      // taking fresh old-gen regions that only the next young GC frees,
      // so a fast request loop touches heap it never needed: measured
      // on a 2 GB driver heap, these buffers held ~300 MB of regions
      // at each young GC. 256k keeps the buffer an ordinary young
      // allocation; large broadcasts split into more pieces.
      .config("spark.broadcast.blockSize", "256k")
      // without Hadoop's native library, the stock `file:` FileSystem
      // sets every file's, `.crc` sidecar's and directory's permissions
      // by forking a `chmod` process: JFR counted 885 of them in one
      // 12 s perfbench gwas_ingest run on a 4-core host, and the run's
      // load p50 fell 405 → 349 ms without them. NioLocalFileSystem
      // sets the same bits in-process. `spark.hadoop.*` reaches the
      // driver's and the executors' Hadoop conf, so this covers the
      // TxLog commit path, Spark's commit protocol and the parquet
      // writers alike. Hadoop caches one FileSystem per scheme and user,
      // so the first `file:` instance in a JVM wins: a session this
      // factory did not build (graft.Bench and graft.Verify build their
      // own), or one built after something else opened `file:`, keeps
      // the stock class and only misses the speed-up.
      .config("spark.hadoop.fs.file.impl",
        classOf[graft.storage.NioLocalFileSystem].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftExtensions.register(spark)
    spark
  }
}
