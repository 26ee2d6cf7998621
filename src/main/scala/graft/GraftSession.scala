package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's standard tuning.
  *
  * The reference engine (`/root/reference/jobs/hi-order/job-pipeline.js:168-186`)
  * executes single-process with no tuning surface; here the session IS the
  * execution engine, so scale knobs live in one place:
  *   - AQE on (runtime re-plan: coalesce shuffle partitions, skew-join split)
  *   - shuffle partitions sized for the local harness (32 cores); on a real
  *     cluster this is overridden by AQE's coalescing + initialPartitionNum
  *   - UTC session time so results are oracle-comparable
  */
object GraftSession {

  def builder(master: String = "local[32]", shufflePartitions: Int = 32): SparkSession.Builder =
    SparkSession
      .builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // let AQE re-coalesce the output partitioning of cached relations:
      // the dedup tiers persist small signature/candidate relations, and
      // without this every downstream stage inherits the full
      // shuffle-partition count as near-empty tasks (measured: hundreds of
      // ~ms tasks whose fixed overhead dominated the dedup bench queries)
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      // joins (optimization guide §3.1): let the planner pick a shuffled
      // HASH join when one side is much smaller and its per-partition build
      // fits (size-gated by canBuildLocalHashMapBySize) instead of always
      // sorting both sides for SMJ — the un-broadcastable joins here are
      // the dedup-drop LEFT ANTI id joins and the BPE word join, where the
      // build side is ids/words: hashing one partition of ids beats sorting
      // BOTH corpus and ids. The AQE threshold additionally converts an
      // SMJ to SHJ at runtime when the real post-shuffle build partitions
      // are small (default 0 = off); 64 MB matches the broadcast gate. SMJ
      // remains the fallback whenever the size conditions fail, so the
      // spill-graceful path is still there at scale.
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
        (64L * 1024 * 1024).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.compression.codec", "snappy")
      // declared once here (not as a read side effect): TIMESTAMP(NANOS)
      // parquet columns surface as int64 nanos; Tables converts to micros
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // full JVM charset set for text sources — the reference's CSV feeds
      // use windows-1251 etc., beyond Spark 4's default charset whitelist
      .config("spark.sql.legacy.javaCharsets", "true")
      // bound plan stringification: the SQL listener renders explainString
      // for EVERY execution and AQE re-renders it per stage update — on the
      // spec-compiled composites (deep trees, wide CASE/fold expressions)
      // unbounded rendering burned multi-second driver gaps between jobs
      // (measured via stack sampling: Expression.toString dominated the
      // flagship-v3 action). 64 KB keeps explain() useful and bounds the
      // cost; real clusters set exactly this knob for the same reason.
      .config("spark.sql.maxPlanStringLength", (64 * 1024).toString)
      // whole-stage-codegen compile cache (STATIC conf — first session in
      // the JVM wins): the default 100 entries thrashes under any workload
      // with more than ~100 distinct codegen units — the spec-compiled
      // composites alone compile ~50 mini-job plans, and a 20-query driver
      // sweep several hundred — so Janino recompiles and C2 re-JITs code
      // the JVM already compiled, every single execution. Measured on the
      // flagship v3 composite at sf0.1 (r16): per-rep JIT seconds NEVER
      // declined across identical reps (8.4–13.5 s each) at the default,
      // and the median read 15.0 s; at 4096 entries JIT falls to a
      // declining 5.9 s and the median to 9.1 s (−39%). Scale-safe by
      // construction: the cache holds compiled classes (not data, not
      // results), and on a 100 TB cluster the same eviction churn costs
      // every executor JVM CPU that should be running tasks. The cache is
      // keyed per (JVM, context classloader), not per JVM: a class compiled
      // under one loader is a miss under another, so it is shared only by
      // sessions whose tasks run under the same executor loader — which is
      // what the artifact-isolation setting below provides.
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      // one executor classloader for every session: under session artifact
      // isolation (the Spark 4 default) each session UUID gets its own
      // ExecutorClassLoader, and each `IngestCompiler.runAvailable` round's
      // StreamingQuery clones the session, so every round recompiled the
      // task-side classes of the round before and left ~110 dead-loader
      // entries in the cache above (ingest_drops, 4 vCPU: 440 → 20–25
      // compiles over four rounds, cycle wall 12.0 → 9.5 s; SCALING.md).
      // The engine adds no session artifacts (addJar/addFile/addArtifact).
      // Spark reads this only at session creation.
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.ui.enabled", "false")
      // parameterized overrides (optimization guide §2.3/§6 "measure both"):
      // scale-dependent knobs — shuffle/IO codec, advisory partition size,
      // scan split size — have no universal value, so they stay env-tunable
      // (`SPARK_GRAFT_EXTRA_CONF="k=v;k2=v2"`, applied LAST) instead of
      // being baked in off a local[32] sf0.1 reading. The A/B harnesses and
      // a production deployment use the same lever; defaults above are the
      // measured local operating point and keep the driver's bench
      // comparable round over round.
      .config(extraConf)

  /** `SPARK_GRAFT_EXTRA_CONF` parsed as `key=value` pairs split on `;`. */
  private def extraConf: Map[String, String] =
    sys.env.get("SPARK_GRAFT_EXTRA_CONF").map(_.split(";").toSeq
      .map(_.trim).filter(_.nonEmpty).map { kv =>
        val i = kv.indexOf('=')
        require(i > 0, s"SPARK_GRAFT_EXTRA_CONF entry '$kv' is not key=value")
        kv.take(i).trim -> kv.drop(i + 1).trim
      }.toMap).getOrElse(Map.empty)

  def getOrCreate(): SparkSession = {
    val spark = builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

/** Table catalog over a testdata directory (one parquet per table). */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, dir: String, name: String): org.apache.spark.sql.DataFrame =
    if (name == "events") {
      // events.ts has shipped in two parquet encodings across testdata
      // generations: TIMESTAMP(NANOS) (which Spark's vectorized reader
      // rejects — surfaced as int64 nanos via the legacy conf, converted
      // with integer division so the value is micros-exact) and plain
      // TIMESTAMP(MICROS) (isAdjustedToUTC=false → TIMESTAMP_NTZ). Branch
      // on the dtype the reader actually inferred so either file works.
      // The conf is declared in GraftSession.builder; it is also set here
      // (idempotently, NOT restored — the parquet reader re-reads it at
      // action time, so a scoped restore would break the deferred scan) so
      // Tables works on sessions not built via the factory.
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      // the NTZ branch below reads the wall-clock as an instant, which is
      // only correct under a UTC session zone — pin it here (same
      // set-not-restore discipline as the conf above: the cast is resolved
      // at action time) so an external non-UTC session cannot silently
      // shift every event timestamp
      spark.conf.set("spark.sql.session.timeZone", "UTC")
      import org.apache.spark.sql.functions.{col, expr}
      import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
      val raw = spark.read.parquet(s"$dir/$name.parquet")
      raw.schema("ts").dataType match {
        case LongType => raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
        // session time zone is UTC, so the NTZ wall-clock IS the instant
        case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
        case _ => raw
      }
    } else spark.read.parquet(s"$dir/$name.parquet")
}
