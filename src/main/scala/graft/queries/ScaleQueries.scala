package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables._

/** Scale-mechanics operators: the physical-layout techniques the 100 TB
  * story rests on, each declared as an oracle-checked query so the
  * OPTIMIZATION is exercised while the RESULT stays hash-identical to the
  * plain formulation (bucketing and salting are physical rewrites — if the
  * answer changes, the rewrite is wrong).
  */
object ScaleQueries {

  /** The conf-scoped child session a query plans in (a12's bloom join,
    * f8's skew join) — memoized per (parent session, tag) (ADVICE r08: a
    * fresh `newSession()` per invocation churned a SessionState + catalog
    * + native-function registry on every bench/correctness run). Shared
    * context and cache; only the private conf differs from the parent,
    * whose conf is never touched. */
  private val confSessions = scala.collection.concurrent.TrieMap.empty[
    (org.apache.spark.sql.SparkSession, String), org.apache.spark.sql.SparkSession]

  private def confSession(s: org.apache.spark.sql.SparkSession, tag: String,
      confs: (String, String)*): org.apache.spark.sql.SparkSession =
    confSessions.getOrElseUpdate((s, tag), {
      val s2 = graft.Tables.prep(s.newSession())
      confs.foreach { case (k, v) => s2.conf.set(k, v) }
      s2
    })

  /** A6: bucketed co-located join — both sides written bucketed+sorted by
    * the join key (8 buckets) into the session catalog, then joined: the
    * sort-merge join reads bucket i against bucket i with NO shuffle
    * exchange and no sort (ScaleOpsSpec pins the plan shape). On a real
    * cluster this is the pre-partitioned fact/dim layout that amortizes one
    * write-time shuffle across every subsequent join. The result is the
    * plain join's, verified against DuckDB on the raw parquet. */
  val a6_bucketed_join = Q(
    "a6_bucketed_join",
    """SELECT o_orderkey,
      |       CAST(count(*) AS BIGINT) AS n_items,
      |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      |WHERE o.o_orderstatus = 'F'
      |GROUP BY 1 ORDER BY 1""".stripMargin
  ) { (s, d) =>
    val wh = graft.Tables.scratchDir(s, d, "graft_bucketed")
    s.sql("DROP TABLE IF EXISTS graft_li_bucketed")
    s.sql("DROP TABLE IF EXISTS graft_ord_bucketed")
    // repartition INTO the bucket partitioning before writing: bucket id
    // and repartition both use Murmur3 HashPartitioning, so each of the 8
    // write tasks holds exactly one bucket and emits ONE file — without
    // it every upstream partition spills a sliver into every bucket
    // (numPartitions × buckets small files, the 100 TB small-file smell)
    // mode("overwrite"): the table was just dropped, but the DETERMINISTIC
    // external path persists across runs — overwrite replaces last run's
    // files instead of erroring on the non-empty location
    lineitem(s, d).select("l_orderkey", "l_quantity")
      .repartition(8, col("l_orderkey"))
      .write.format("parquet").mode("overwrite")
      .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .option("path", s"$wh/li").saveAsTable("graft_li_bucketed")
    orders(s, d).select("o_orderkey", "o_orderstatus")
      .repartition(8, col("o_orderkey"))
      .write.format("parquet").mode("overwrite")
      .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .option("path", s"$wh/ord").saveAsTable("graft_ord_bucketed")
    s.table("graft_ord_bucketed").filter(col("o_orderstatus") === "F")
      .join(s.table("graft_li_bucketed"), col("o_orderkey") === col("l_orderkey"))
      .groupBy("o_orderkey")
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
      .orderBy("o_orderkey")
  }

  /** A7: partitioned layout + partition-pruned scan — the OTHER physical
    * layout a 100 TB deployment rests on (a6 covers bucketing): lineitem
    * written as hive-style directories partitioned by return flag, then
    * queried with a partition-column predicate. The filter must resolve
    * at PLANNING time against the directory listing — `PartitionFilters`
    * in the scan, no data filter, untouched partitions never opened
    * (ScaleOpsSpec pins exactly that). The result is the plain filtered
    * aggregate's, verified against DuckDB on the raw parquet. */
  val a7_partitioned_scan = Q(
    "a7_partitioned_scan",
    """SELECT l_linestatus,
      |       CAST(count(*) AS BIGINT) AS n_rows,
      |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem WHERE l_returnflag = 'R'
      |GROUP BY 1 ORDER BY 1""".stripMargin
  ) { (s, d) =>
    val dir = graft.Tables.scratchDir(s, d, "graft_partitioned")
    lineitem(s, d).select("l_returnflag", "l_linestatus", "l_quantity")
      .write.partitionBy("l_returnflag").mode("overwrite").parquet(dir)
    s.read.parquet(dir)
      .filter(col("l_returnflag") === "R")
      .groupBy("l_linestatus")
      .agg(count(lit(1)).as("n_rows"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
      .orderBy("l_linestatus")
  }

  /** A9: DYNAMIC partition pruning — a7's layout, but the partition
    * selection arrives from a JOIN, not a literal: the fact is partitioned
    * by the join key, the dim carries the selective predicate, and Spark
    * injects the dim's filtered key set into the fact scan's
    * `PartitionFilters` as a `dynamicpruning` subquery (reusing the
    * broadcast), so untouched partitions never open even though no
    * literal predicate exists at plan time. THE join optimization a
    * 100 TB star schema lives on (ScaleOpsSpec pins the pruning
    * expression in the scan). Both sides are real file scans — DPP only
    * fires against sources. */
  val a9_dynamic_pruning = Q(
    "a9_dynamic_pruning",
    """WITH dim(flag, keep) AS (VALUES ('A','no'),('N','no'),('R','yes'))
      |SELECT l_linestatus,
      |       CAST(count(*) AS BIGINT) AS n_rows,
      |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem JOIN dim ON l_returnflag = flag
      |WHERE keep = 'yes'
      |GROUP BY 1 ORDER BY 1""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    val dir = graft.Tables.scratchDir(s, d, "graft_dpp")
    lineitem(s, d).select("l_returnflag", "l_linestatus", "l_quantity")
      .write.partitionBy("l_returnflag").mode("overwrite").parquet(s"$dir/fact")
    Seq(("A", "no"), ("N", "no"), ("R", "yes")).toDF("flag", "keep")
      .write.mode("overwrite").parquet(s"$dir/dim")
    val dim = s.read.parquet(s"$dir/dim").filter(col("keep") === "yes")
    s.read.parquet(s"$dir/fact")
      .join(dim, col("l_returnflag") === col("flag"))
      .groupBy("l_linestatus")
      .agg(count(lit(1)).as("n_rows"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
      .orderBy("l_linestatus")
  }

  private val SaltBuckets = 16

  /** F4: salted skew join — 90% of fact rows share ONE foreign key, the
    * classic hot-key shuffle killer. The fact side salts the key with
    * pmod(xxhash64(unique col), 16); the dim side replicates each row into
    * all 16 salt buckets; the join key becomes (key, salt) so the hot key
    * spreads over 16 tasks instead of one. `hint("merge")` forces the
    * shuffle join the demo is about (a 25-row dim would otherwise
    * broadcast — when the dim is broadcastable, broadcasting IS the right
    * fix; salting is for dims too big to broadcast). Result ≡ plain join. */
  val f4_salted_join = Q(
    "f4_salted_join",
    """WITH fact AS (SELECT l_orderkey, l_linenumber,
      |         CASE WHEN l_orderkey % 10 <> 0 THEN 0 ELSE l_orderkey % 25 END AS nk
      |       FROM lineitem)
      |SELECT f.l_orderkey, CAST(f.l_linenumber AS BIGINT) AS l_linenumber, n.n_name
      |FROM fact f JOIN nation n ON f.nk = n.n_nationkey
      |ORDER BY f.l_orderkey, f.l_linenumber""".stripMargin
  ) { (s, d) =>
    val fact = lineitem(s, d).select(
      col("l_orderkey"), col("l_linenumber"),
      when(col("l_orderkey") % 10 =!= 0, 0L).otherwise(col("l_orderkey") % 25).as("nk"),
      pmod(xxhash64(col("l_orderkey"), col("l_linenumber")), lit(SaltBuckets)).as("salt"))
    val dim = nation(s, d).select(col("n_nationkey"), col("n_name"))
      .withColumn("salt", explode(sequence(lit(0L), lit(SaltBuckets - 1L))))
    fact.join(dim.hint("merge"),
        col("nk") === col("n_nationkey") && fact("salt") === dim("salt"))
      .select(col("l_orderkey"), col("l_linenumber"), col("n_name"))
      .orderBy("l_orderkey", "l_linenumber")
  }

  /** F8: AQE skew-join split — f4's hot-key fixture (90% of fact rows on
    * ONE foreign key) joined PLAIN, letting Spark's own
    * `OptimizeSkewedJoin` split the hot shuffle partition at runtime
    * instead of hand-salting it. This is the fix a real cluster applies
    * first — zero query rewrite, the dim side of each split is duplicated
    * by the AQE shuffle read, and the answer is bit-identical to the plain
    * join (same oracle as f4, so the two skew strategies are pinned
    * equivalent). ScaleOpsSpec pins `skew=true` on the executed
    * SortMergeJoin and compares the split count against the single hot
    * partition the static plan would have had.
    *
    * The `repartition(32)` on the fact exists because the skew split
    * regroups MAP outputs: a reduce partition can only split at mapper
    * boundaries, and the single-file test fixture scans as ONE map task
    * (one row group), which makes the hot partition atomic no matter how
    * skewed. At 100 TB the scan has thousands of input splits and the
    * repartition would be dropped — it stands in for the mapper
    * parallelism the fixture lacks, not for any part of the skew fix. */
  val f8_aqe_skew_join = Q(
    "f8_aqe_skew_join",
    """WITH fact AS (SELECT l_orderkey, l_linenumber,
      |         CASE WHEN l_orderkey % 10 <> 0 THEN 0 ELSE l_orderkey % 25 END AS nk
      |       FROM lineitem)
      |SELECT f.l_orderkey, CAST(f.l_linenumber AS BIGINT) AS l_linenumber, n.n_name
      |FROM fact f JOIN nation n ON f.nk = n.n_nationkey
      |ORDER BY f.l_orderkey, f.l_linenumber""".stripMargin
  ) { (s, d) =>
    // AQE's `OptimizeSkewedJoin` thresholds are sized for cluster
    // partitions (256 MB skew threshold): lower them to test-SF sizes,
    // force the split even when it costs an extra exchange, and disable
    // auto-broadcast (a broadcastable dim would dodge the shuffle the demo
    // is about — when the dim CAN broadcast, broadcasting is the right fix;
    // skew-join handles the dims too big for that)
    val s2 = confSession(s, "skew",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "16k",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8k",
      "spark.sql.adaptive.forceOptimizeSkewedJoin" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val fact = lineitem(s2, d).select(
      col("l_orderkey"), col("l_linenumber"),
      when(col("l_orderkey") % 10 =!= 0, 0L).otherwise(col("l_orderkey") % 25).as("nk"))
      .repartition(32) // mapper parallelism the one-file fixture lacks (scaladoc)
    fact.join(nation(s2, d).select(col("n_nationkey"), col("n_name")).hint("merge"),
        col("nk") === col("n_nationkey"))
      .select(col("l_orderkey"), col("l_linenumber"), col("n_name"))
      .orderBy("l_orderkey", "l_linenumber")
  }

  /** C11 mechanics, factored into stages so the overwrite-scope spec can
    * observe the table directory BETWEEN the base load and the upsert:
    * the claim under test is that applying a changes batch rewrites ONLY
    * the partitions the batch touches (1995/1996), leaving every other
    * year's files byte- and mtime-identical — the write-side half of c8's
    * keep-latest shape (the CDC upsert-log → current-state landing).
    *
    * Commit posture (VERDICT r14 #4) — what this landing guarantees and,
    * as importantly, what it does NOT:
    *   - The upsert REQUIRES FileOutputCommitter algorithm v1 (tasks
    *     commit into a job staging dir; only job commit publishes) and
    *     refuses to run under v2, whose task-side renames publish partial
    *     output the moment each task commits — a job that dies mid-run
    *     under v2 leaves a half-written table, under v1 an untouched one.
    *     v1 is Hadoop's and Spark's default; the [[commitPosture]] check
    *     turns the assumption into an executable contract instead of an
    *     environment accident (a cluster-wide perf tuning of
    *     `mapreduce.fileoutputcommitter.algorithm.version=2` is exactly
    *     the silent way this job would lose its failure atomicity).
    *   - Dynamic partition overwrite stages all task output under the
    *     table's `.spark-staging-<jobId>/` and, at job commit, replaces
    *     each touched partition directory. Failure BEFORE job commit
    *     therefore leaves the table untouched; a retried job is
    *     content-idempotent (the idempotence spec). But the per-partition
    *     replacements are NOT one atomic operation: a crash DURING job
    *     commit can leave a mix of old and new partitions until the job
    *     reruns.
    *   - A path-based parquet table has NO table format: no snapshot
    *     isolation (a reader listing files during the commit window can
    *     see mixed state) and no concurrent-writer protection (two
    *     simultaneous upserts interleave partition replacements with no
    *     detection). The operator's contract is SINGLE-writer,
    *     crash-restartable. A production lakehouse puts a transactional
    *     table format (Delta/Iceberg/Hudi — log- or snapshot-committed)
    *     or at minimum a job-level lock in front of exactly this path;
    *     nothing in this repo pretends otherwise. */
  private[graft] object PartitionUpsert {
    import org.apache.spark.sql.{DataFrame, SparkSession}

    /** The effective output-committer algorithm version for this
      * session's writes (session overrides included — the same resolution
      * chain `FileOutputCommitter` itself reads), defaulting like Hadoop
      * to v1. */
    def committerVersion(s: SparkSession): Int =
      s.sessionState.newHadoopConf()
        .getInt("mapreduce.fileoutputcommitter.algorithm.version", 1)

    /** Executable commit-posture pin: both write stages call this, so a
      * session tuned to the non-atomic v2 committer fails the job LOUDLY
      * instead of silently trading failure atomicity for rename speed. */
    def commitPosture(s: SparkSession): Unit =
      require(committerVersion(s) == 1,
        "c11's partition upsert requires FileOutputCommitter algorithm v1: " +
          "v2 publishes task output at task commit, so a mid-job failure " +
          s"leaves partial files in the table (got v${committerVersion(s)})")

    /** Current-state table: orders keyed by o_orderkey, laid out as
      * hive-style year partitions (7 directories at every test SF). */
    def baseFrame(s: SparkSession, d: String): DataFrame =
      orders(s, d).select(col("o_orderkey"), col("o_custkey"),
        col("o_totalprice"), year(col("o_orderdate")).as("o_year"))

    /** The CDC batch, derived deterministically from the source so the
      * oracle can replay it: price updates for keys ≡ 0 (mod 7) and brand-
      * new rows (key + 900 000 000, beyond any test-SF keyspace) for keys
      * ≡ 0 (mod 11), both restricted to the 1995/1996 partitions — five of
      * the seven year partitions are untouched by construction. */
    def changesFrame(s: SparkSession, d: String): DataFrame = {
      val base = baseFrame(s, d).filter(col("o_year").isin(1995, 1996))
      val updates = base.filter(col("o_orderkey") % 7 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + 100000.0)
      val inserts = base.filter(col("o_orderkey") % 11 === 0)
        .withColumn("o_orderkey", col("o_orderkey") + 900000000L)
      updates.unionByName(inserts)
    }

    def writeBase(s: SparkSession, d: String, dir: String): Unit = {
      commitPosture(s)
      baseFrame(s, d)
        .repartition(col("o_year")) // one write task per partition → one file each
        .write.partitionBy("o_year").mode("overwrite").parquet(dir)
    }

    /** The upsert job: merge the changes batch into the CURRENT state of
      * the touched partitions (keep-latest per key, batch wins — c8's
      * max_by idiom) and land it with dynamic partition overwrite, so the
      * commit replaces exactly the touched directories. The touched-
      * partition read is `localCheckpoint`ed to break lineage before the
      * self-overwrite — materialized state is touched-partitions-sized
      * (the whole point of partition-scoped upserts at 100 TB), never
      * table-sized. The touched-year collect is bounded by the partition
      * count (≤7 here; a real table's partition key is chosen so this is
      * always catalog-scale, not data-scale). */
    def applyChanges(s: SparkSession, d: String, dir: String): Unit = {
      commitPosture(s)
      val chg = changesFrame(s, d)
      val touched = chg.select("o_year").distinct()
        .collect().map(_.getInt(0)).sorted
      val current = s.read.parquet(dir)
        .filter(col("o_year").isin(touched.map(Integer.valueOf): _*))
        .localCheckpoint()
      val merged = current.withColumn("v", lit(0))
        .unionByName(chg.withColumn("v", lit(1)))
        .groupBy("o_orderkey")
        .agg(max_by(
          struct(col("o_custkey"), col("o_totalprice"), col("o_year")),
          col("v")).as("last"))
        .select(col("o_orderkey"), col("last.o_custkey").as("o_custkey"),
          col("last.o_totalprice").as("o_totalprice"),
          col("last.o_year").as("o_year"))
      merged
        .repartition(col("o_year"))
        .write.option("partitionOverwriteMode", "dynamic")
        .partitionBy("o_year").mode("overwrite").parquet(dir)
    }

    def readState(s: SparkSession, dir: String): DataFrame =
      s.read.parquet(dir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col("o_year").cast("long").as("o_year"))
        .orderBy("o_orderkey")
  }

  /** C11: write-side partition upsert — the missing half of c8: the CDC
    * changes batch LANDS as a dynamic-partition-overwrite commit that
    * rewrites only the partitions the batch touches (here 2 of 7 year
    * directories; ScaleOpsSpec pins the other five files mtime-identical
    * across the upsert). The oracle replays keep-latest over base ∪
    * changes — hash-green means the landed table state equals the merge
    * semantics, and the untouched partitions got it for free. */
  val c11_partition_upsert = Q(
    "c11_partition_upsert",
    """WITH base AS (SELECT o_orderkey, o_custkey, o_totalprice,
      |                     year(o_orderdate) AS o_year FROM orders),
      |chg AS (
      |  SELECT o_orderkey, o_custkey, o_totalprice + 100000.0 AS o_totalprice, o_year
      |  FROM base WHERE o_year IN (1995, 1996) AND o_orderkey % 7 = 0
      |  UNION ALL
      |  SELECT o_orderkey + 900000000, o_custkey, o_totalprice, o_year
      |  FROM base WHERE o_year IN (1995, 1996) AND o_orderkey % 11 = 0),
      |u AS (SELECT *, 0 AS v FROM base UNION ALL SELECT *, 1 AS v FROM chg),
      |r AS (SELECT *, row_number() OVER (PARTITION BY o_orderkey ORDER BY v DESC) AS rn
      |      FROM u)
      |SELECT o_orderkey, o_custkey, o_totalprice, CAST(o_year AS BIGINT) AS o_year
      |FROM r WHERE rn = 1 ORDER BY o_orderkey""".stripMargin
  ) { (s, d) =>
    val dir = graft.Tables.scratchDir(s, d, "graft_upsert")
    PartitionUpsert.writeBase(s, d, dir)
    PartitionUpsert.applyChanges(s, d, dir)
    PartitionUpsert.readState(s, dir)
  }

  /** E4: as-of join (extension) — for each 'purchase' event, the most
    * recent prior 'view' of the same user (ops/AsOf: union + running
    * window, ONE shuffle — never the O(|L|·|R|)-per-key range-join
    * blowup). The oracle is DuckDB's native ASOF LEFT JOIN, so the two
    * independent formulations must agree row-for-row, null matches
    * included. Timestamps at full microsecond fidelity (l13 conventions:
    * both engines truncate parquet nanos to µs first). */
  val e4_asof_join = Q(
    "e4_asof_join",
    """WITH p AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value
      |           FROM events WHERE event_type = 'purchase'),
      |v AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events
      |      WHERE event_type = 'view')
      |SELECT p.event_id, p.user_id,
      |       strftime(p.ts, '%Y-%m-%d %H:%M:%S.%f') AS ts,
      |       p.value,
      |       strftime(v.ts, '%Y-%m-%d %H:%M:%S.%f') AS view_ts,
      |       v.value AS view_value
      |FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.ts >= v.ts
      |ORDER BY p.event_id""".stripMargin
  ) { (s, d) =>
    val ev = events(s, d)
    val p = ev.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts", "value")
    val v = ev.filter(col("event_type") === "view")
      .select("user_id", "ts", "value")
    graft.ops.AsOf.join(p, v, "user_id", "ts",
        Map("ts" -> "view_ts", "value" -> "view_value"))
      .select(col("event_id"), col("user_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts"),
        col("value"),
        date_format(col("view_ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("view_ts"),
        col("view_value"))
      .orderBy("event_id")
  }

  /** E5: range (point-in-interval) join (extension) — every 'error' event
    * inside any same-user [signup, signup + 3 days) window
    * (ops/RangeJoin: interval-bucketed equi-join + exact containment
    * filter, never a per-key nested loop). The oracle is DuckDB's plain
    * inequality join — two independent formulations, row-identical.
    * One error can land in several overlapping signup windows; the pair
    * (error_id, signup_id) keys the output. */
  val e5_range_join = Q(
    "e5_range_join",
    """WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type
      |           FROM events),
      |s AS (SELECT event_id AS signup_id, user_id, ts AS s_ts FROM e
      |      WHERE event_type = 'signup'),
      |x AS (SELECT event_id AS error_id, user_id, ts AS e_ts FROM e
      |      WHERE event_type = 'error')
      |SELECT x.error_id, x.user_id,
      |       strftime(x.e_ts, '%Y-%m-%d %H:%M:%S.%f') AS error_ts,
      |       s.signup_id,
      |       strftime(s.s_ts, '%Y-%m-%d %H:%M:%S.%f') AS signup_ts
      |FROM x JOIN s ON x.user_id = s.user_id
      |             AND x.e_ts >= s.s_ts AND x.e_ts < s.s_ts + INTERVAL 3 DAY
      |ORDER BY x.error_id, s.signup_id""".stripMargin
  ) { (s, d) =>
    val ev = events(s, d)
    val signups = ev.filter(col("event_type") === "signup")
      .select(col("event_id").as("signup_id"), col("user_id"),
        col("ts").as("s_ts"), (col("ts") + expr("INTERVAL 3 DAYS")).as("s_end"))
    val errors = ev.filter(col("event_type") === "error")
      .select(col("event_id").as("error_id"), col("user_id"), col("ts").as("e_ts"))
    graft.ops.RangeJoin.pointInInterval(
        errors, signups, "user_id", "e_ts", "s_ts", "s_end")
      .select(col("error_id"), col("user_id"),
        date_format(col("e_ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("error_ts"),
        col("signup_id"),
        date_format(col("s_ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("signup_ts"))
      .orderBy("error_id", "signup_id")
  }

  /** E10: value band join (extension, ops/BandJoin) — every purchase
    * matched to the same user's views whose value agrees to within
    * ±5.0: the VALUE-space member of the inequality-join family (e4
    * as-of on time order, e5 point-in-interval on time containment,
    * THIS on numeric tolerance — reconciliation/price-matching shape).
    * Bucketed at width δ with a {b−1, b, b+1} neighbor replication of
    * one side, so the plan is an equi-join on (user, bucket) + the exact
    * tolerance filter — never the per-key nested loop Spark would plan
    * for the raw theta join (PlanShapeSpec pins no cartesian/BNLJ). The
    * oracle is DuckDB's plain inequality join: two independent
    * formulations, row-identical — green certifies the bucketing is
    * lossless, not just plausible. */
  /** E11: point-in-time join — the feature-store leakage guard, composed
    * from two existing operators: C13's SCD2 history (each purchase opens
    * a new [valid_from, valid_to) version of the user's value) probed by
    * the error stream through E4's as-of machinery (ops/AsOf — union +
    * running last, ONE shuffle, never the O(|L|·|R|)-per-key range
    * blowup), so every error row sees the purchase-value version that
    * was true AT ITS OWN TIMESTAMP — never a later one. This is THE
    * training-data correctness operator: joining features "as of now"
    * instead of "as of the label's time" leaks the future into training
    * (Kaggle's classic leakage class), and the fix is exactly this join
    * shape.
    *
    * Equal-timestamp version collisions pre-aggregate to the max
    * version per (user, ts) — the AsOf determinism contract (right
    * frame distinct on key+ts) AND the SCD2 empty-interval semantics
    * ([vf, vf) matches nothing) agree on "the later version wins".
    * Errors before any purchase attach nulls (left-outer). The oracle
    * replays the interval form (vf ≤ ts < vt) — provably the same match
    * as most-recent-prior when versions partition time. */
  val e11_point_in_time = Q(
    "e11_point_in_time",
    """WITH c AS (SELECT user_id, event_id, ts, value FROM events
      |           WHERE event_type = 'purchase'),
      |h AS (SELECT user_id, CAST(row_number() OVER w AS BIGINT) AS version,
      |        value, ts AS vf, lead(ts) OVER w AS vt
      |      FROM c WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |e2 AS (SELECT user_id, event_id AS err_id, ts FROM events
      |       WHERE event_type = 'error')
      |SELECT e2.user_id, e2.err_id,
      |       strftime(e2.ts, '%Y-%m-%d %H:%M:%S.%f') AS err_ts,
      |       h.version, h.value AS purchase_value
      |FROM e2 LEFT JOIN h ON h.user_id = e2.user_id AND h.vf <= e2.ts
      |                   AND (h.vt IS NULL OR e2.ts < h.vt)
      |ORDER BY 1, 2""".stripMargin
  ) { (s, d) =>
    val ev = events(s, d)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts", "event_id")
    val hist = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"),
        struct(row_number().over(w).cast("long").as("version"),
          col("value")).as("m"))
      .groupBy("user_id", "ts").agg(max("m").as("m")) // later version wins
      .select(col("user_id"), col("ts"),
        col("m.version").as("version"), col("m.value").as("pvalue"))
    val errs = ev.filter(col("event_type") === "error")
      .select(col("user_id"), col("event_id").as("err_id"), col("ts"))
    graft.ops.AsOf.join(errs, hist, "user_id", "ts",
        Map("version" -> "version", "pvalue" -> "purchase_value"))
      .select(col("user_id"), col("err_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("err_ts"),
        col("version"), col("purchase_value"))
      .orderBy("user_id", "err_id")
  }

  val e10_band_join = Q(
    "e10_band_join",
    """WITH e AS (SELECT event_id, user_id, event_type, value FROM events),
      |p AS (SELECT event_id AS purchase_id, user_id, value AS pv FROM e
      |      WHERE event_type = 'purchase'),
      |v AS (SELECT event_id AS view_id, user_id, value AS vv FROM e
      |      WHERE event_type = 'view')
      |SELECT p.purchase_id, p.user_id, p.pv, v.view_id, v.vv
      |FROM p JOIN v ON p.user_id = v.user_id AND abs(p.pv - v.vv) <= 5.0
      |ORDER BY p.purchase_id, v.view_id""".stripMargin
  ) { (s, d) =>
    val ev = events(s, d)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("value").as("pv"))
    val v = ev.filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id"),
        col("value").as("vv"))
    graft.ops.BandJoin.join(p, v, "user_id", "pv", "vv", 5.0)
      .select(col("purchase_id"), col("user_id"), col("pv"),
        col("view_id"), col("vv"))
      .orderBy("purchase_id", "view_id")
  }

  /** A10: z-order clustered layout (ops/ZOrder) — lineitem written
    * range-partitioned + sorted by the Morton key of (l_partkey,
    * l_suppkey), then read back through a 2-D box predicate. The layout
    * is the optimization under test: parquet row-group min/max stats on
    * BOTH box columns stay tight under the interleaved sort, so the box
    * scan prunes files/row-groups in both dimensions (ScaleOpsSpec
    * quantifies the span contraction; a 1-D sort leaves the second
    * dimension unprunable). The result — box aggregate + min/max Morton
    * key — is hash-identical to the plain formulation, and the oracle
    * recomputes the bit interleave per row, so a green hash pins the key
    * arithmetic cross-engine too. */
  val a10_zorder = Q(
    "a10_zorder",
    s"""SELECT CAST(count(*) AS BIGINT) AS n_rows,
       |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       |       CAST(min(${graft.ops.ZOrder.zkeySql("l_partkey", "l_suppkey")}) AS BIGINT) AS z_min,
       |       CAST(max(${graft.ops.ZOrder.zkeySql("l_partkey", "l_suppkey")}) AS BIGINT) AS z_max
       |FROM lineitem
       |WHERE l_partkey BETWEEN 100 AND 500 AND l_suppkey BETWEEN 10 AND 40""".stripMargin
  ) { (s, d) =>
    val dir = graft.Tables.scratchDir(s, d, "graft_zorder")
    lineitem(s, d).select("l_partkey", "l_suppkey", "l_quantity")
      .withColumn("zkey", graft.ops.ZOrder.zkey(col("l_partkey"), col("l_suppkey")))
      .repartitionByRange(8, col("zkey"))
      .sortWithinPartitions("zkey")
      .write.mode("overwrite").parquet(dir)
    s.read.parquet(dir)
      .filter(col("l_partkey").between(100, 500) &&
        col("l_suppkey").between(10, 40))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
        min(col("zkey")).as("z_min"),
        max(col("zkey")).as("z_max"))
  }

  /** A12: runtime bloom-filter join pruning — the shuffle-join analogue
    * of a9's DPP. A selective dim-side filter becomes a bloom filter
    * built over the dim's join keys (a two-phase ObjectHashAggregate —
    * partials combine map-side like any aggregate) and pushed into the
    * FACT side's scan filter as `might_contain(...)`, so most fact rows
    * die before paying the join shuffle instead of after it. Spark-first:
    * this is the built-in `InjectRuntimeFilter` rule — the engine's job
    * is to plan INTO it, not rebuild it. Its thresholds are sized for
    * clusters (application-side scan ≥ 10 GB, broadcastable sides
    * excluded), so a conf-scoped CHILD session (shared context and cache,
    * private conf) lowers them for test SF and disables auto-broadcast —
    * which is also the honest 100 TB shape: a dim too big to broadcast
    * joining a fact via SMJ is exactly where the bloom pays. The shared
    * session's conf is never touched (the bench runs every query in one
    * session). Result ≡ the plain join — a bloom passes false POSITIVES
    * to the join, which discards them, and never drops a true match — so
    * the oracle is the plain SQL; ScaleOpsSpec pins `might_contain` +
    * the bloom aggregate in the executed plan. */
  val a12_runtime_bloom = Q(
    "a12_runtime_bloom",
    """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_rows,
      |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE o_orderpriority = '1-URGENT'
      |GROUP BY 1 ORDER BY 1""".stripMargin
  ) { (s, d) =>
    val s2 = confSession(s, "bloom",
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val ord = orders(s2, d).filter(col("o_orderpriority") === "1-URGENT")
      .select("o_orderkey")
    lineitem(s2, d).select("l_orderkey", "l_returnflag", "l_extendedprice")
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_rows"),
        sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("rev"))
      .orderBy("l_returnflag")
  }

  /** E12: NEAREST as-of join (extension) — pandas `merge_asof(direction=
    * 'nearest')`: each purchase picks the view minimizing |Δts| within
    * the user, prior-on-tie (the pandas backward tie rule, declared in
    * [[graft.ops.AsOf.nearest]]'s scaladoc) — the attribution shape
    * where influence is symmetric in time (a view seconds AFTER a
    * purchase is the same session; E4's backward-only join misses it).
    * DuckDB has no nearest ASOF, so the oracle is the independent naive
    * formulation — a correlated argmin over the full per-user view set
    * (exact integer microsecond distance, ts tiebreak) — while the
    * engine runs the two linear running-window passes sharing ONE
    * exchange (AsOf.nearest): two different algorithms, row-identical
    * output is the whole check.
    *
    * 100 TB posture: identical to E4 — one shuffle on user_id, linear
    * per-key passes, never the O(|L|·|R|) per-key cross join the oracle
    * deliberately uses at test SF. */
  val e12_nearest_asof = Q(
    "e12_nearest_asof",
    """WITH p AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value
      |           FROM events WHERE event_type = 'purchase'),
      |v AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events
      |      WHERE event_type = 'view')
      |SELECT p.event_id, p.user_id,
      |       strftime(p.ts, '%Y-%m-%d %H:%M:%S.%f') AS ts,
      |       p.value,
      |       strftime(n.ts, '%Y-%m-%d %H:%M:%S.%f') AS view_ts,
      |       n.value AS view_value
      |FROM p LEFT JOIN LATERAL (
      |  SELECT v.ts, v.value FROM v
      |  WHERE v.user_id = p.user_id
      |  ORDER BY abs(date_diff('microsecond', v.ts, p.ts)), v.ts
      |  LIMIT 1) n ON true
      |ORDER BY p.event_id""".stripMargin
  ) { (s, d) =>
    val ev = events(s, d)
    val p = ev.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts", "value")
    val v = ev.filter(col("event_type") === "view")
      .select("user_id", "ts", "value")
    graft.ops.AsOf.nearest(p, v, "user_id", "ts",
        Map("ts" -> "view_ts", "value" -> "view_value"))
      .select(col("event_id"), col("user_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts"),
        col("value"),
        date_format(col("view_ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("view_ts"),
        col("view_value"))
      .orderBy("event_id")
  }

  /** E13: interval coalescing (merge overlapping validity windows) — the
    * gaps-and-islands operator over genuine INTERVALS, distinct from
    * point-sessionization (l13): each event opens a window whose length
    * depends on its type (view 5 min, click 30 min, signup 10 min,
    * purchase 2 h, error 1 min — declared literals), and overlapping or
    * touching windows per user merge into one coalesced span. Because
    * lengths are heterogeneous, a long interval can swallow many later
    * short ones — the running MAX-END (not the previous row's end) is
    * load-bearing, which is exactly what separates this from l13's
    * fixed-gap sessions. The production shapes: takedown/license
    * validity unions (l109's input), maintenance-window flattening,
    * SCD2 (c13) range compaction.
    *
    * Determinism: all arithmetic in exact integer microseconds
    * (unix_micros/epoch_us, the l187 idiom); island membership is
    * order-invariant under (st, en) ties because identical-key rows
    * can't open a new island against each other (an equal start is ≤
    * the other's max-end by construction), so the per-island (min start,
    * max end, count) aggregate is a pure function of the interval
    * multiset.
    *
    * 100 TB posture: ONE hash exchange on user_id feeds both windows
    * (running max-end and the island cumsum share partitioning and sort
    * — one sort, two frames), then the groupBy reuses the same
    * partitioning; no self-join, no corpus-wide window. */
  val e13_interval_coalesce = Q(
    "e13_interval_coalesce",
    """WITH iv AS (SELECT user_id,
      |              epoch_us(CAST(ts AS TIMESTAMP)) AS st,
      |              epoch_us(CAST(ts AS TIMESTAMP))
      |                + CAST(1000000 AS BIGINT) * CASE event_type
      |                WHEN 'view' THEN 300 WHEN 'click' THEN 1800
      |                WHEN 'signup' THEN 600 WHEN 'purchase' THEN 7200
      |                ELSE 60 END AS en
      |            FROM events),
      |mx AS (SELECT user_id, st, en,
      |         max(en) OVER (PARTITION BY user_id ORDER BY st, en
      |                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |           AS pmax
      |       FROM iv),
      |isl AS (SELECT user_id, st, en,
      |          sum(CASE WHEN pmax IS NULL OR st > pmax THEN 1 ELSE 0 END)
      |            OVER (PARTITION BY user_id ORDER BY st, en
      |                  ROWS UNBOUNDED PRECEDING) AS island
      |        FROM mx)
      |SELECT user_id, CAST(island AS BIGINT) AS island,
      |       CAST(min(st) AS BIGINT) AS start_us,
      |       CAST(max(en) AS BIGINT) AS end_us,
      |       CAST(count(*) AS BIGINT) AS n_events
      |FROM isl GROUP BY 1, 2 ORDER BY user_id, island""".stripMargin
  ) { (s, d) =>
    val dur = when(col("event_type") === "view", 300L)
      .when(col("event_type") === "click", 1800L)
      .when(col("event_type") === "signup", 600L)
      .when(col("event_type") === "purchase", 7200L)
      .otherwise(60L)
    val iv = events(s, d).select(col("user_id"),
      unix_micros(col("ts")).as("st"),
      (unix_micros(col("ts")) + lit(1000000L) * dur).as("en"))
    graft.ops.Intervals.coalesce(iv).orderBy("user_id", "island")
  }

  /** E14: interval gaps — the COMPLEMENT of E13 on the same window
    * machinery: the idle spans between a user's coalesced activity
    * islands (gap = previous island's max-end → next island's start).
    * The availability/downtime read every ops dashboard needs
    * ("longest quiet window per user/service"), and the reason the
    * island frame is worth materializing once: both views are one
    * lead() apart. A single-island user emits nothing — absence of a
    * gap IS the datum.
    *
    * Determinism: inherits E13's exact-microsecond islands (the
    * multiset-invariance argument carries over verbatim — gaps are a
    * function of the island frame); one lead() per key.
    *
    * 100 TB posture: the gap pass runs on the ISLAND frame (≪ events)
    * and shares E13's key partitioning — the plan is E13's one hash
    * exchange plus one metadata-scale window, no new corpus scan. */
  val e14_interval_gaps = Q(
    "e14_interval_gaps",
    """WITH iv AS (SELECT user_id,
      |              epoch_us(CAST(ts AS TIMESTAMP)) AS st,
      |              epoch_us(CAST(ts AS TIMESTAMP))
      |                + CAST(1000000 AS BIGINT) * CASE event_type
      |                WHEN 'view' THEN 300 WHEN 'click' THEN 1800
      |                WHEN 'signup' THEN 600 WHEN 'purchase' THEN 7200
      |                ELSE 60 END AS en
      |            FROM events),
      |mx AS (SELECT user_id, st, en,
      |         max(en) OVER (PARTITION BY user_id ORDER BY st, en
      |                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |           AS pmax
      |       FROM iv),
      |isl AS (SELECT user_id, st, en,
      |          sum(CASE WHEN pmax IS NULL OR st > pmax THEN 1 ELSE 0 END)
      |            OVER (PARTITION BY user_id ORDER BY st, en
      |                  ROWS UNBOUNDED PRECEDING) AS island
      |        FROM mx),
      |g AS (SELECT user_id, island, min(st) AS start_us, max(en) AS end_us
      |      FROM isl GROUP BY 1, 2),
      |gp AS (SELECT user_id, island, end_us,
      |         lead(start_us) OVER (PARTITION BY user_id ORDER BY island)
      |           AS nxt
      |       FROM g)
      |SELECT user_id, CAST(island AS BIGINT) AS after_island,
      |       CAST(end_us AS BIGINT) AS gap_start_us,
      |       CAST(nxt AS BIGINT) AS gap_end_us,
      |       CAST(nxt - end_us AS BIGINT) AS gap_us
      |FROM gp WHERE nxt IS NOT NULL
      |ORDER BY user_id, after_island""".stripMargin
  ) { (s, d) =>
    val dur = when(col("event_type") === "view", 300L)
      .when(col("event_type") === "click", 1800L)
      .when(col("event_type") === "signup", 600L)
      .when(col("event_type") === "purchase", 7200L)
      .otherwise(60L)
    val iv = events(s, d).select(col("user_id"),
      unix_micros(col("ts")).as("st"),
      (unix_micros(col("ts")) + lit(1000000L) * dur).as("en"))
    graft.ops.Intervals.gaps(iv).orderBy("user_id", "after_island")
  }

  /** E16: interval-overlap join (extension, ops/OverlapJoin) — every
    * same-user pair of a purchase attention window [p_ts, p_ts + 2 d)
    * and a signup onboarding window [s_ts, s_ts + 3 d) that OVERLAP,
    * with the overlap window itself emitted (greatest of starts, least
    * of ends). The last member of the inequality-join family: e4 as-of
    * (order), e5 point-in-interval (containment), e10 band (value
    * tolerance), e12 nearest (distance) — this is two interval SETS
    * against each other, the session-overlap / double-booking /
    * validity-reconciliation shape.
    *
    * Plan: both interval sets explode into covered day buckets and the
    * match is an equi-join on (user, bucket) + exact overlap filter —
    * never a per-key nested loop. Overlapping pairs share MANY buckets,
    * so the canonical-bucket rule (keep the pair only in the bucket of
    * max(start_a, start_b) — the overlap's start, provably covered by
    * both sides and unique) makes the output dup-free with NO distinct.
    * The oracle is DuckDB's plain inequality join — an independent
    * formulation, so a green hash certifies the bucketing + canonical
    * rule are lossless AND dup-free, not just plausible. Half-open
    * semantics: touching windows (end == start) do NOT match — the e13
    * convention. Timestamps at microsecond fidelity (l13). */
  val e16_interval_overlap = Q(
    "e16_interval_overlap",
    """WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
      |                  event_type FROM events),
      |p AS (SELECT event_id AS p_id, user_id, ts AS p_s,
      |             ts + INTERVAL 2 DAY AS p_e FROM e
      |      WHERE event_type = 'purchase'),
      |s AS (SELECT event_id AS s_id, user_id, ts AS s_s,
      |             ts + INTERVAL 3 DAY AS s_e FROM e
      |      WHERE event_type = 'signup')
      |SELECT p.p_id, s.s_id, p.user_id,
      |       strftime(greatest(p.p_s, s.s_s), '%Y-%m-%d %H:%M:%S.%f')
      |         AS ov_start,
      |       strftime(least(p.p_e, s.s_e), '%Y-%m-%d %H:%M:%S.%f')
      |         AS ov_end
      |FROM p JOIN s ON p.user_id = s.user_id
      |              AND p.p_s < s.s_e AND s.s_s < p.p_e
      |ORDER BY p_id, s_id""".stripMargin
  ) { (s, d) =>
    val ev = events(s, d)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id"),
        col("ts").as("p_s"), (col("ts") + expr("INTERVAL 2 DAYS")).as("p_e"))
    val sg = ev.filter(col("event_type") === "signup")
      .select(col("event_id").as("s_id"), col("user_id"),
        col("ts").as("s_s"), (col("ts") + expr("INTERVAL 3 DAYS")).as("s_e"))
    graft.ops.OverlapJoin.intervalOverlap(
        p, sg, "user_id", "p_s", "p_e", "s_s", "s_e")
      .select(col("p_id"), col("s_id"), col("user_id"),
        date_format(greatest(col("p_s"), col("s_s")),
          "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ov_start"),
        date_format(least(col("p_e"), col("s_e")),
          "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ov_end"))
      .orderBy("p_id", "s_id")
  }

  /** E17: work-capped interval-overlap join with its miss rate DECLARED
    * as data (VERDICT r18 #5 — e16's saturation valve, the l139/l161/
    * l162 accounting discipline): the overlap join's one superlinear
    * failure mode is a hot (key, bucket) CELL — a double-booked hub
    * calendar where na purchases × nb signups pile onto the same day —
    * whose cell join output is na·nb rows no bucket width can bound.
    * The capped engine (ops/OverlapJoin.cappedIntervalOverlap) refuses
    * cells whose work product na·nb exceeds 16, bounding per-cell
    * output at 16 rows and total candidate work at 16·#cells — linear
    * in the interval count — and this row declares the price: exact
    * pairs (e16's engine), capped pairs, missed, ε, and the cells
    * refused. workCap = 16 bites at every committed SF past sf0.001
    * (14 cells / ε = 0.027 at sf0.01, 159 / 0.033 at sf0.1 — the knee
    * an l141-style sweep would pick), and the WorkRowAudit hub series
    * shows the flattening: planted hub cells grow candidates
    * quadratically uncapped, linearly capped.
    *
    * Determinism: refusal depends only on exact integer per-cell
    * counts; capped ⊆ exact by construction (subset cell join,
    * identical canonical + overlap filters); ε is one IEEE division
    * under round(6); the one-row fold is the l123 bounded-collect
    * class.
    *
    * 100 TB posture: at scale only the CAPPED engine runs (computing
    * exact is what the valve exists to avoid — the l162 stance) with ε
    * monitored on a sampled stratum; here the exact side is the
    * oracle-checked reference that makes the declared loss a measured
    * number instead of a promise. */
  val e17_capped_overlap = Q(
    "e17_capped_overlap",
    """WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
      |                  event_type FROM events),
      |p AS (SELECT event_id AS p_id, user_id, ts AS p_s,
      |             ts + INTERVAL 2 DAY AS p_e FROM e
      |      WHERE event_type = 'purchase'),
      |s AS (SELECT event_id AS s_id, user_id, ts AS s_s,
      |             ts + INTERVAL 3 DAY AS s_e FROM e
      |      WHERE event_type = 'signup'),
      |pb AS (SELECT user_id, unnest(range(epoch_us(p_s) // 86400000000,
      |                epoch_us(p_e) // 86400000000 + 1)) AS b FROM p),
      |sb AS (SELECT user_id, unnest(range(epoch_us(s_s) // 86400000000,
      |                epoch_us(s_e) // 86400000000 + 1)) AS b FROM s),
      |ca AS (SELECT user_id, b, count(*) AS na FROM pb GROUP BY 1, 2),
      |cb AS (SELECT user_id, b, count(*) AS nb FROM sb GROUP BY 1, 2),
      |act AS (SELECT ca.user_id, ca.b, na, nb FROM ca
      |        JOIN cb ON ca.user_id = cb.user_id AND ca.b = cb.b),
      |x AS (SELECT p.p_id, s.s_id, p.user_id,
      |             epoch_us(greatest(p.p_s, s.s_s)) // 86400000000 AS cbk
      |      FROM p JOIN s ON p.user_id = s.user_id
      |                    AND p.p_s < s.s_e AND s.s_s < p.p_e),
      |m AS (SELECT x.p_id, x.s_id, (c.na * c.nb > 16) AS refused
      |      FROM x JOIN act c ON c.user_id = x.user_id AND c.b = x.cbk),
      |t AS (SELECT count(*) AS n_exact,
      |             count(*) FILTER (NOT refused) AS n_capped,
      |             count(*) FILTER (refused) AS n_missed FROM m)
      |SELECT CAST(n_exact AS BIGINT) AS n_exact,
      |       CAST(n_capped AS BIGINT) AS n_capped,
      |       CAST(n_missed AS BIGINT) AS n_missed,
      |       CASE WHEN n_exact = 0 THEN 0.0
      |            ELSE round(n_missed * 1.0 / n_exact, 6) END AS epsilon,
      |       CAST((SELECT count(*) FILTER (na * nb > 16) FROM act)
      |            AS BIGINT) AS n_cells_refused
      |FROM t""".stripMargin
  ) { (s, d) =>
    import graft.ops.OverlapJoin
    val ev = events(s, d)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id"),
        col("ts").as("p_s"), (col("ts") + expr("INTERVAL 2 DAYS")).as("p_e"))
    val sg = ev.filter(col("event_type") === "signup")
      .select(col("event_id").as("s_id"), col("user_id"),
        col("ts").as("s_s"), (col("ts") + expr("INTERVAL 3 DAYS")).as("s_e"))
    val exact = OverlapJoin.intervalOverlap(
      p, sg, "user_id", "p_s", "p_e", "s_s", "s_e").count()
    val capped = OverlapJoin.cappedIntervalOverlap(
      p, sg, "user_id", "p_s", "p_e", "s_s", "s_e", workCap = 16L).count()
    val refused = OverlapJoin.activeCells(
        OverlapJoin.bucketed(p, "p_s", "p_e"),
        OverlapJoin.bucketed(sg, "s_s", "s_e"), "user_id")
      .filter(col("__na") * col("__nb") > 16L).count()
    val missed = exact - capped
    def r6(x: Double) = BigDecimal(x).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble
    import s.implicits._
    Seq((exact, capped, missed,
        if (exact == 0L) 0.0 else r6(missed.toDouble / exact), refused))
      .toDF("n_exact", "n_capped", "n_missed", "epsilon", "n_cells_refused")
  }

  val all: Seq[Q] = Seq(a6_bucketed_join, a7_partitioned_scan,
    a9_dynamic_pruning, a10_zorder, a12_runtime_bloom, c11_partition_upsert,
    f4_salted_join, f8_aqe_skew_join, e4_asof_join, e5_range_join,
    e10_band_join, e11_point_in_time, e12_nearest_asof, e13_interval_coalesce,
    e14_interval_gaps, e16_interval_overlap, e17_capped_overlap)
}
