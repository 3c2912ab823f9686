package graft.gates

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.{Ivf, Sim, Text}
import graft.operators.{AsOfJoin, Dedup, Sessionize}
import graft.ops.{Dims, Quality}
import graft.sources.Tables

/** Catalog/maintenance + pipeline-composition gates: compaction,
  * keyed MERGE, Kafka-shaped transfer log, sketch audits, the composed
  * training pipeline.
  *
  * Split out of SparkEntry (one gate map per operator family); the
  * driver contract is still the combined SparkEntry.queries /
  * SparkEntry.oracleSql. Helpers and shared oracle CTEs live in
  * [[GateSupport]].
  */
private[graft] object CatalogGates {
  import GateSupport._

  /** The shared x103/x107 CDC feed over customer: %5=0 U@1 then D@2
    * (delete wins), %5=1 D@1 then U@2 (resurrects with the U
    * payload), %5=2 a plain U@1, %7=0 fresh-key I@1 past
    * MAX(c_custkey). Both gates replay against the same oracle —
    * x107 just delivers the two sequences in the WRONG batch order. */
  private def x103Log(c: DataFrame): DataFrame = {
    val maxK = c.agg(max(col("c_custkey"))).head.getLong(0) + 1L
    def seg(p: String) =
      concat(lit(p), (col("c_custkey") % 3).cast("string"))
    def slice(m: Int) = c.where(col("c_custkey") % 5 === m)
    slice(0).select(col("c_custkey").as("k"),
        lit(1L).as("seq"), lit("U").as("op"), seg("U1-").as("v"),
        (round(col("c_acctbal"), 2) + 1).as("bal"))
      .unionAll(slice(0).select(col("c_custkey"), lit(2L), lit("D"),
        lit(null).cast("string"), lit(0.0)))
      .unionAll(slice(1).select(col("c_custkey"), lit(1L), lit("D"),
        lit(null).cast("string"), lit(0.0)))
      .unionAll(slice(1).select(col("c_custkey"), lit(2L), lit("U"),
        seg("U2-"), (round(col("c_acctbal"), 2) + 2)))
      .unionAll(slice(2).select(col("c_custkey"), lit(1L), lit("U"),
        seg("U3-"), (round(col("c_acctbal"), 2) + 3)))
      .unionAll(c.where(col("c_custkey") % 7 === 0)
        .select((col("c_custkey") + lit(maxK)), lit(1L), lit("I"),
          lit("NEW"), lit(1.0)))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // X49 Kafka-shaped transfer bus end-to-end: TransferRequests built
    // from orders rows, produced onto a 4-partition file-backed commit
    // log in two batches (offsets must chain across segments), then
    // group-consumed, decoded, and aggregated by month. The oracle
    // replays the request construction straight from orders — so the
    // produce→partition→offset→poll→decode round trip must be lossless
    // and duplicate-free to hash-match.
    "x49_kafka_transfer" -> ((s, d) => {
      import s.implicits._
      val root = java.nio.file.Paths.get(scratchDir("graft_kafka"))
      try {
        val rootS = root.toString
        graft.pipeline.KafkaLog.createTopic(rootS, "transfers", 4)
        val reqs = t(s, d, "orders")
          .orderBy(asc("o_orderkey")).limit(200)
          .select(
            concat(lit("sftp://legacy/orders/"), col("o_orderkey"),
              lit(".csv")).as("source_connection_string"),
            concat(lit("blob://lake/landing/"), col("o_orderkey"),
              lit(".csv")).as("destination_connection_string"),
            (col("o_orderkey") % 2 === 0).as("remove_file"),
            col("o_orderdate").cast(DateType).cast(StringType).as("event_date"))
        def asReqs(df: DataFrame) =
          df.as[graft.pipeline.Messages.TransferRequest]
        graft.pipeline.Messages.producePartitioned(
          asReqs(reqs.where(col("remove_file"))), rootS, "transfers")
        graft.pipeline.Messages.producePartitioned(
          asReqs(reqs.where(!col("remove_file"))), rootS, "transfers")
        val consumed =
          graft.pipeline.Messages.consumePartitioned(s, rootS, "transfers", "g1")
        // materialize eagerly (bounded: one row per month) so the
        // temp log can be deleted before the frame is re-read
        val rows = consumed
          .groupBy(substring(col("event_date"), 1, 7).as("month"))
          .agg(count(lit(1)).as("n_files"),
            sum(when(col("remove_file"), 1L).otherwise(0L)).as("n_remove"))
          .collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
          .sortBy(_._1)
        rows.toSeq.toDF("month", "n_files", "n_remove")
          .orderBy(asc_nulls_first("month"))
      } finally rmTree(root.toFile)
    }),

    // X49B the same transfer bus consumed through the STREAMING
    // path: KafkaLog.readStream (file-stream over the segment logs,
    // checkpointed exactly-once) + foreachBatch, each micro-batch
    // decoded, appended to the sink, and its offsets committed via
    // commitPolled — the subscribe loop a production consumer runs.
    // The gate also REQUIRES the post-stream batch poll to come back
    // empty (the foreachBatch commits really advanced the group
    // watermark over the whole log). Same oracle replay as x49.
    "x49b_kafka_stream" -> ((s, d) => {
      import s.implicits._
      val root = java.nio.file.Paths.get(scratchDir("graft_kafka_s"))
      try {
        val rootS = root.toString
        graft.pipeline.KafkaLog.createTopic(rootS, "transfers", 4)
        val reqs = t(s, d, "orders")
          .orderBy(asc("o_orderkey")).limit(200)
          .select(
            concat(lit("sftp://legacy/orders/"), col("o_orderkey"),
              lit(".csv")).as("source_connection_string"),
            concat(lit("blob://lake/landing/"), col("o_orderkey"),
              lit(".csv")).as("destination_connection_string"),
            (col("o_orderkey") % 2 === 0).as("remove_file"),
            col("o_orderdate").cast(DateType).cast(StringType).as("event_date"))
        def asReqs(df: DataFrame) =
          df.as[graft.pipeline.Messages.TransferRequest]
        graft.pipeline.Messages.producePartitioned(
          asReqs(reqs.where(col("remove_file"))), rootS, "transfers")
        graft.pipeline.Messages.producePartitioned(
          asReqs(reqs.where(!col("remove_file"))), rootS, "transfers")
        val outDir = rootS + "/_consumed"
        val group = "stream-g"
        val reqSchema = org.apache.spark.sql.Encoders
          .product[graft.pipeline.Messages.TransferRequest].schema
        withCheckpoint { ckpt =>
          val q = graft.pipeline.KafkaLog.readStream(s, rootS, "transfers")
            .writeStream
            .foreachBatch { (batch: DataFrame, _: Long) =>
              batch.persist()
              try {
                batch
                  .select(from_json(unbase64(col("value")).cast("string"),
                    reqSchema).as("m"))
                  .select(col("m.*"))
                  .write.mode("append").parquet(outDir)
                graft.pipeline.KafkaLog.commitPolled(rootS, "transfers", group, batch)
              } finally { batch.unpersist(); () }
              ()
            }
            .option("checkpointLocation", ckpt)
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
          awaitGate(q)
        }
        // the streaming consumer's commits must cover the entire log
        require(graft.pipeline.Messages
          .consumePartitioned(s, rootS, "transfers", group).isEmpty,
          "x49b: streaming consumer left uncommitted records behind")
        val rows = s.read.parquet(outDir)
          .groupBy(substring(col("event_date"), 1, 7).as("month"))
          .agg(count(lit(1)).as("n_files"),
            sum(when(col("remove_file"), 1L).otherwise(0L)).as("n_remove"))
          .collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
          .sortBy(_._1)
        rows.toSeq.toDF("month", "n_files", "n_remove")
          .orderBy(asc_nulls_first("month"))
      } finally rmTree(root.toFile)
    }),

    // X51 keyed MERGE upsert: refresh a customer-keyed parquet table
    // from an orders-derived delta — matched keys are REPLACED (tagged
    // name, order-revenue balance), unmatched delta keys (offset by
    // 1e6) are inserted — then read the physically swapped table
    // back. The oracle replays the merge relationally (FULL OUTER
    // JOIN, update-row-wins), so every row of the rewritten table is
    // value-checked.
    "x51_merge_upsert" -> ((s, d) => {
      val root = java.nio.file.Paths.get(scratchDir("graft_merge"))
      try {
        val tgt = root.toString + "/cust"
        t(s, d, "customer")
          .select(col("c_custkey"), col("c_name"),
            round(col("c_acctbal"), 2).as("c_acctbal"))
          .write.parquet(tgt)
        val rev = t(s, d, "orders").groupBy(col("o_custkey"))
          .agg(round(sum(col("o_totalprice")), 2).as("rev"))
        val upd = rev.where(col("o_custkey") % 3 === 0)
          .select(col("o_custkey").as("c_custkey"),
            concat(lit("upd_"), col("o_custkey")).as("c_name"),
            col("rev").as("c_acctbal"))
          .union(rev.where(col("o_custkey") % 7 === 0)
            .select((col("o_custkey") + lit(1000000L)).as("c_custkey"),
              concat(lit("new_"), col("o_custkey")).as("c_name"),
              col("rev").as("c_acctbal")))
        graft.catalog.Catalog.merge(s, tgt, upd, Seq("c_custkey"))
        // materialize eagerly so the temp dir can be deleted here —
        // the returned frame must not re-read it
        s.read.parquet(tgt)
          .orderBy(asc_nulls_first("c_custkey"))
          .localCheckpoint()
      } finally rmTree(root.toFile)
    }),

    // X51B PARTITION-SCOPED MERGE: the same keyed refresh as x51 but
    // the target is hive-partitioned by market segment and only the
    // leaves the delta touches are rewritten (untouched leaves stay
    // byte-identical — asserted by CatalogSpec; here the oracle
    // value-checks every row of the partially rewritten table).
    // Matched keys carry their own segment (the merge identity is
    // partition + key, so keys never migrate); inserted keys open a
    // brand-new SYNTHETIC partition to exercise leaf creation. The
    // oracle replays the same relational merge with the partition
    // column in the join identity.
    "x51b_merge_partitioned" -> ((s, d) => {
      val root = java.nio.file.Paths.get(scratchDir("graft_merge_part"))
      try {
        val tgt = root.toString + "/cust"
        t(s, d, "customer")
          .select(col("c_custkey"), col("c_name"),
            round(col("c_acctbal"), 2).as("c_acctbal"), col("c_mktsegment"))
          .write.partitionBy("c_mktsegment").parquet(tgt)
        val rev = t(s, d, "orders").groupBy(col("o_custkey"))
          .agg(round(sum(col("o_totalprice")), 2).as("rev"))
        val upd = rev.join(t(s, d, "customer"),
            col("o_custkey") === col("c_custkey"))
          .where(col("o_custkey") % 3 === 0)
          .select(col("o_custkey").as("c_custkey"),
            concat(lit("upd_"), col("o_custkey")).as("c_name"),
            col("rev").as("c_acctbal"), col("c_mktsegment"))
          .union(rev.where(col("o_custkey") % 7 === 0)
            .select((col("o_custkey") + lit(1000000L)).as("c_custkey"),
              concat(lit("new_"), col("o_custkey")).as("c_name"),
              col("rev").as("c_acctbal"),
              lit("SYNTHETIC").as("c_mktsegment")))
        // known-uniform leaf schema (the gate wrote the target):
        // skips one footer-inference job per touched leaf
        graft.catalog.Catalog.mergePartitioned(s, tgt, upd,
          Seq("c_custkey"), Seq("c_mktsegment"),
          schemaOpt = Some(StructType(upd.drop("c_mktsegment")
            .schema.fields.map(_.copy(nullable = true)))))
        s.read.parquet(tgt)
          .select(col("c_custkey"), col("c_name"), col("c_acctbal"),
            col("c_mktsegment").cast("string").as("c_mktsegment"))
          .orderBy(asc_nulls_first("c_custkey"))
          .localCheckpoint()
      } finally rmTree(root.toFile)
    }),

    // X95 schema-evolution read: a parquet table whose later files
    // carry an ADDED column (the daily-append reality — producers
    // upgrade, history does not rewrite) read with mergeSchema; old
    // files surface the new column as NULL, never an error or a
    // silent drop. Oracle derives the same union shape relationally.
    "x95_schema_evolution" -> ((s, d) => {
      val root = java.nio.file.Paths.get(scratchDir("graft_evolve"))
      try {
        val tgt = root.toString + "/docs"
        val docs = t(s, d, "documents")
        docs.where(col("doc_id") < 250)
          .select(col("doc_id"), col("n_chars"))
          .write.parquet(tgt)
        docs.where(col("doc_id") >= 250)
          .select(col("doc_id"), col("n_chars"), col("lang"))
          .write.mode("append").parquet(tgt)
        s.read.option("mergeSchema", "true").parquet(tgt)
          .select(col("doc_id"), col("n_chars"), col("lang"))
          .orderBy(asc_nulls_first("doc_id"))
          .localCheckpoint()
      } finally rmTree(root.toFile)
    }),

    // X93 keyed DELETE (right-to-be-forgotten) over a partitioned
    // layout where the erasure list does NOT say which partitions
    // hold the keys: every leaf is probed with a broadcast semi-join
    // existence check, only leaves containing a key are rewritten
    // (atomic per-leaf swap), the rest stay byte-identical. Erasure
    // keys = custkey % 7 = 3 plus absent keys (the no-op probe path).
    // Oracle is the relational anti-join the physical erasure must
    // equal.
    "x93_delete_keys" -> ((s, d) => {
      val root = java.nio.file.Paths.get(scratchDir("graft_del_part"))
      try {
        val tgt = root.toString + "/cust"
        t(s, d, "customer")
          .select(col("c_custkey"), col("c_name"),
            round(col("c_acctbal"), 2).as("c_acctbal"), col("c_mktsegment"))
          .write.partitionBy("c_mktsegment").parquet(tgt)
        val keys = t(s, d, "customer")
          .where(col("c_custkey") % 7 === 3)
          .select(col("c_custkey"))
          .union(s.range(999000, 999005).select(col("id").as("c_custkey")))
        graft.catalog.Catalog.deleteKeysPartitioned(
          s, tgt, keys, Seq("c_custkey"),
          // known-uniform leaf schema: no per-leaf inference job
          schemaOpt = Some(StructType(Seq(
            StructField("c_custkey", LongType),
            StructField("c_name", StringType),
            StructField("c_acctbal", DoubleType)))))
        s.read.parquet(tgt)
          .select(col("c_custkey"), col("c_name"), col("c_acctbal"),
            col("c_mktsegment").cast("string").as("c_mktsegment"))
          .orderBy(asc_nulls_first("c_custkey"))
          .localCheckpoint()
      } finally rmTree(root.toFile)
    }),

    // X25 the full training-data pipeline as ONE dataflow: curation
    // verdicts → keep → near-dup dedup (LSH + exact verify + CC) →
    // deterministic split → chunk/token budget per split. Every stage
    // is an operator already oracle-verified on its own (x19, x20,
    // x24, x22, x09); this query pins their composition.
    "x25_training_pipeline" -> ((s, d) => {
      val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
      // stage the curated set: dedup reads it twice (signature pass +
      // survivor anti-join), and at warehouse scale each pipeline
      // stage writes its output as a table between stages anyway —
      // without staging, the curation signal math runs twice.
      // localCheckpoint is the local-mode stand-in for that table
      // write: it is NOT fault-tolerant to executor loss (a real
      // cluster run would use a durable table/checkpoint between
      // stages), which also bounds the lifetime of the signature
      // cache entry built over it below.
      val curated = graft.operators.Curation.annotate(t(s, d, "documents"))
        .where(col("keep")).select("doc_id", "text")
        .localCheckpoint()
      val deduped = Dedup.dedupNearDups(curated, threshold = 0.5,
        cacheKey = Some(s"curated:$d"))
      graft.operators.Splits.hashSplit(deduped, "doc_id", splits, "v1")
        .select(col("split"), graft.functions.Text.tokenCount(col("text")).as("nt"))
        // chunk count is pure window arithmetic on the token count
        // (size 80, step 60): no need to materialize chunk strings
        .withColumn("nc",
          when(col("nt") === 0, 0L)
            .when(col("nt") <= 80, 1L)
            .otherwise(lit(1L) +
              ceil((col("nt") - 80).cast("double") / 60).cast("long")))
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"),
          sum("nc").cast("long").as("n_chunks"),
          sum("nt").cast("long").as("n_tokens"))
        .orderBy(asc_nulls_first("split"))
    }),

    // X33/X34 [A-family sketches] audit queries for the mergeable
    // sketch surface: the probabilistic guarantees (CMS never
    // undercounts, overcounts by ≤ eps·N; Bloom has no false
    // negatives, false positives within the designed rate) are
    // deterministic for fixed data and seed, so they gate exactly —
    // violation counts pin to 0 in the oracle.
    "x33_cms_audit" -> ((s, d) =>
      graft.operators.Sketches.cmsAudit(t(s, d, "events"), "event_type")),


    "x34_bloom_audit" -> ((s, d) =>
      graft.operators.Sketches.bloomAudit(t(s, d, "events"), "event_type",
        expectedItems = 100000, fpp = 0.03)),

    // X101 [A-family sketches] STORABLE HyperLogLog: per-day sketches
    // of the distinct users union-merged across days — the
    // pre-aggregate-once/roll-up-forever pattern. The gate pins BOTH
    // halves of the contract: the merged blob is bit-identical to the
    // direct whole-table sketch (register-max associativity), and the
    // estimate lands within 5% of exact (p=12 → ~1.6% standard error;
    // deterministic hash ⇒ the flag is fixed for fixed data).
    "x101_hll_sketch" -> ((s, d) =>
      graft.operators.Sketches.hllAudit(
        t(s, d, "events"), "user_id", to_date(col("ts")),
        p = 12, tol = 0.05)),

    // X99 [governance] the data-quality EXPECTATION SUITE (the
    // Great-Expectations/dbt-test contract shape): row rules in ONE
    // aggregation pass, key-uniqueness by groupBy, referential
    // containment by anti join — each reported (rule, violations,
    // pass). Rules picked so the fixture exercises both outcomes:
    // range, set-membership, and unique(l_orderkey) FAIL on real rows
    // (lineitem has multiple line numbers per order — that unique rule
    // fails BY DESIGN); nullability, regex,
    // unique(l_orderkey,l_linenumber), and referential PASS. Oracle
    // recomputes every
    // count with the same NULL semantics (value rules pass on NULL;
    // the bare predicate fails on NULL).
    "x99_expectations" -> ((s, d) => {
      import graft.operators.Expectations._
      graft.operators.Expectations.audit(
        t(s, d, "lineitem"),
        rowRules = Seq(
          NotNull("l_orderkey"),
          InRange("l_quantity", 1, 25),
          OneOf("l_returnflag", Seq("A", "N")),
          Matches("l_linestatus", "^[OF]$"),
          Predicate("predicate(disc_vs_tax)", "l_discount <= l_tax + 0.08")),
        uniqueKeys = Seq(Seq("l_orderkey", "l_linenumber"), Seq("l_orderkey")),
        refs = Seq(("l_orderkey", t(s, d, "orders"), "o_orderkey")))
    }),

    // X100 [governance] TYPE-2 slowly-changing-dimension maintenance
    // (Kimball SCD2) over a customer-derived dimension: keys % 3 = 0
    // get a changed segment/balance (old row closes at the as-of
    // timestamp, new current row opens), % 3 = 1 arrive
    // attribute-identical (NO version churn — the no-op proof), new
    // keys insert as current. History preservation + the no-churn
    // rule are exactly what the full-value oracle replays.
    "x100_scd2" -> ((s, d) => {
      val c = t(s, d, "customer")
      val dim = c.select(col("c_custkey").as("k"),
          col("c_mktsegment").as("seg"), round(col("c_acctbal"), 2).as("bal"))
        .withColumn("valid_from", to_timestamp(lit("2024-01-01 00:00:00")))
        .withColumn("valid_to", lit(null).cast("timestamp"))
      val changed = c.where(col("c_custkey") % 3 === 0)
        .select(col("c_custkey").as("k"),
          concat(lit("SEG-"), (col("c_custkey") % 7).cast("string")).as("seg"),
          round(col("c_acctbal") + 10, 2).as("bal"))
      val same = c.where(col("c_custkey") % 3 === 1)
        .select(col("c_custkey").as("k"), col("c_mktsegment").as("seg"),
          round(col("c_acctbal"), 2).as("bal"))
      // fresh keys offset by max(c_custkey), not a constant — a fixed
      // offset collides with real keys once sf grows past it, and the
      // oracle derives the same bound
      // +1: c_custkey starts at 0, so an offset of exactly max would
      // collide fresh key 0+max with the real max key
      val maxK = c.agg(max(col("c_custkey"))).head.getLong(0) + 1L
      val fresh = c.where(col("c_custkey") % 11 === 0)
        .select((col("c_custkey") + lit(maxK)).as("k"),
          lit("NEW").as("seg"), lit(0.0).as("bal"))
      val updates = changed.unionAll(same).unionAll(fresh)
      graft.operators.Scd.apply2(dim, updates, Seq("k"),
          "2024-06-01 00:00:00")
        .orderBy(asc_nulls_first("k"), asc_nulls_first("valid_from"))
    }),

    // X103 [governance] CDC LOG APPLY (the Debezium/Delta-CDF apply
    // shape): a change feed of (key, seq, op∈{I,U,D}, payload) rows
    // materialized onto a base snapshot — per key the HIGHEST
    // sequence wins, by SEQUENCE ORDER not op precedence. The fixture
    // exercises exactly that: k%5=0 gets U then D (delete wins),
    // k%5=1 gets D then U (the row RESURRECTS with the U payload —
    // op-precedence implementations get this wrong), k%5=2 a plain
    // update, k%7=0 inserts fresh keys, k%5∈{3,4} pass through
    // untouched. One aggregation collapses the log (never a window),
    // the collapsed delta broadcasts into the anti join.
    "x103_cdc_apply" -> ((s, d) => {
      val c = t(s, d, "customer")
      val base = c.select(col("c_custkey").as("k"),
        col("c_mktsegment").as("v"), round(col("c_acctbal"), 2).as("bal"))
      graft.operators.Cdc.apply(base, x103Log(c), Seq("k"))
        .orderBy(asc_nulls_first("k"))
    }),

    // X107 [governance] REORDER-TOLERANT incremental CDC — x103's
    // exact feed split into TWO batches delivered in the WRONG order
    // (every seq-2 entry before its seq-1 entry): applyOrdered's
    // tombstone + sequence guard must converge to the identical final
    // snapshot, so the gate reuses x103's oracle VERBATIM. Plain
    // per-batch apply() would regress every %5=0 key (stale U
    // resurrects the deleted row) and %5=1 key (stale D kills the
    // newer update).
    "x107_cdc_ordered" -> ((s, d) => {
      val c = t(s, d, "customer")
      val base = c.select(col("c_custkey").as("k"),
        col("c_mktsegment").as("v"), round(col("c_acctbal"), 2).as("bal"))
      val log = x103Log(c)
      // ONE validation job for the whole feed instead of one per
      // batch (strictly stronger: uniqueness over the union implies
      // it per slice) — the documented pre-validated-feed path
      graft.operators.Cdc.validateFeed(log, Seq("k"))
      val batches = Seq(log.where(col("seq") === 2L),
        log.where(col("seq") === 1L))
      val end = batches.foldLeft(graft.operators.Cdc.initState(base)) {
        (st, b) => graft.operators.Cdc.applyOrdered(st, b, Seq("k"),
          checkUnique = false)
      }
      graft.operators.Cdc.snapshot(end)
        .orderBy(asc_nulls_first("k"))
    }),

    // X112 [governance, ST+] STREAMING CDC materialization — x107's
    // convergence law driven through a real FileStreamSource: the
    // x103 feed staged as two files with every seq-2 entry mtime-
    // ordered STRICTLY BEFORE its seq-1 entry, replayed one file per
    // micro-batch through foreachBatch + applyOrdered with the state
    // carried across batches. The final snapshot must hash-match
    // x103's oracle VERBATIM — a per-batch plain apply() would
    // resurrect every %5=0 key and kill every %5=1 key. The gate
    // asserts BOTH micro-batches actually ran (one file each), so the
    // reordering is genuinely exercised, not collapsed into one batch.
    "x112_cdc_stream" -> ((s, d) => {
      val c = t(s, d, "customer")
      val base = c.select(col("c_custkey").as("k"),
        col("c_mktsegment").as("v"), round(col("c_acctbal"), 2).as("bal"))
      val log = x103Log(c)
      // validate the feed ONCE before staging (strictly stronger than
      // per-micro-batch probes over its slices) — inside the stream
      // the probe was one eager aggregation job PER TRIGGER
      graft.operators.Cdc.validateFeed(log, Seq("k"))
      val p = scratchDir("graft_cdc_stream")
      log.where(col("seq") === 2L).coalesce(1)
        .write.mode("append").parquet(p)
      val before = listParquet(p)
      log.where(col("seq") === 1L).coalesce(1)
        .write.mode("append").parquet(p)
      bumpMtime(p, before)
      var state = graft.operators.Cdc.initState(base).localCheckpoint()
      var batches = 0
      withStreamPartitions(s, streamPartitionsFor(p)) {
        val stream = s.readStream.schema(log.schema)
          .option("maxFilesPerTrigger", 1).parquet(p)
        withCheckpoint { ckpt =>
          val q = stream.writeStream
            .option("checkpointLocation", ckpt)
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .foreachBatch { (batch: DataFrame, _: Long) =>
              state = graft.operators.Cdc
                .applyOrdered(state, batch, Seq("k"), checkUnique = false)
                .localCheckpoint()
              batches += 1
            }.start()
          awaitGate(q)
        }
      }
      require(batches >= 2,
        s"x112 expected >=2 micro-batches (reordered delivery), got $batches")
      graft.operators.Cdc.snapshot(state)
        .orderBy(asc_nulls_first("k"))
    }),

    // X114 [maintenance] incremental aggregate maintenance — the
    // materialized-view update pattern: per-customer order rollup
    // built from the even orders, then two odd-order delta batches
    // folded in with work proportional to |state| + |delta| (never a
    // base rescan). The folded state must equal the direct aggregate
    // over ALL orders — the mergeability law merge(build(A),
    // build(B)) == build(A ∪ B), exercised across three batches and
    // checked value-for-value incl. the derived (never stored) avg.
    "x114_incremental_agg" -> ((s, d) => {
      val o = t(s, d, "orders")
      val ia = graft.operators.IncrementalAgg
      val state0 = ia.build(o.where(col("o_orderkey") % 2 === 0),
        Seq("o_custkey"), Seq("o_totalprice"))
      val state1 = ia.update(state0, o.where(col("o_orderkey") % 4 === 1),
        Seq("o_custkey"), Seq("o_totalprice"))
      val state2 = ia.update(state1, o.where(col("o_orderkey") % 4 === 3),
        Seq("o_custkey"), Seq("o_totalprice"))
      // avg derives from the ROUNDED sum: the raw sums differ across
      // engines in the last ulp (addition order), and a raw-sum
      // division lands on half-cent ROUND boundaries ~2% of the time;
      // dividing the already-rounded (and gate-matched) sum by the
      // exact count is IEEE-exact on identical inputs on both sides.
      // The final cent quantization uses the explicit half-up formula
      // (x23 convention) — the engines' round() builtins disagree on
      // exact .005 quotients (BigDecimal HALF_UP vs *100-and-round)
      ia.withAverages(state2, Seq("o_totalprice"))
        .select(col("o_custkey").cast("long").as("o_custkey"),
          col("n_rows"), col("o_totalprice_cnt"),
          round(col("o_totalprice_sum"), 2).as("sum_price"),
          round(col("o_totalprice_min"), 2).as("min_price"),
          round(col("o_totalprice_max"), 2).as("max_price"),
          (floor(round(col("o_totalprice_sum"), 2) /
            col("o_totalprice_cnt") * 100 + lit(0.5)) / 100)
            .as("avg_price"))
        .orderBy(col("o_custkey"))
    }),

    // X105 [governance] CDC DIFF — the inverse of x103: derive the
    // change log that turns snapshot A into snapshot B (backfill
    // generation, table-sync audit, CDC bootstrap). One null-safe
    // full-outer key join, delta-sized output: updates carry the new
    // payload, deletes carry NULLs, unchanged keys are ABSENT. The
    // round-trip law apply(from, diff(from, to)) == to is spec-pinned
    // (CdcSpec); this gate pins the emitted log itself value-for-value.
    "x105_cdc_diff" -> ((s, d) => {
      val c = t(s, d, "customer")
      val base = c.select(col("c_custkey").as("k"),
        col("c_mktsegment").as("v"), round(col("c_acctbal"), 2).as("bal"))
      val maxK = c.agg(max(col("c_custkey"))).head.getLong(0) + 1L
      val target = base.where(col("k") % 4 =!= 1)
        .withColumn("bal",
          when(col("k") % 4 === 0, col("bal") + 5).otherwise(col("bal")))
        .unionAll(c.where(col("c_custkey") % 9 === 0)
          .select((col("c_custkey") + lit(maxK)).as("k"),
            lit("NEW").as("v"), lit(1.0).as("bal")))
      graft.operators.Cdc.diff(base, target, Seq("k"))
        .orderBy(asc_nulls_first("k"))
    }),

    // X102 [governance, composed] the governed-dimension pipeline —
    // the x25/x70/x82 composition analogue for the governance family:
    // the x99 EXPECTATION gate quarantines bad delta rows (map-only
    // annotate), the x100 SCD2 maintenance applies only the clean
    // delta, and the x101 HLL roll-up summarizes the maintained
    // table. Fixtures are x100's verbatim; the quarantine rule
    // (bal ∈ [0, 1e9]) drops changed rows whose bumped balance is
    // still negative (c_acctbal < −10 — acctbal carries 2 decimals,
    // so the rounded compare has no boundary ambiguity), and those
    // keys must KEEP their original open row — segment membership of
    // the current slice is exactly what the oracle replays. Output:
    // per-segment current counts, a per-segment HLL estimate within
    // 5% of exact, and the merged roll-up bit-equal to the direct
    // sketch over all current rows.
    "x102_governed_dim" -> ((s, d) => {
      val c = t(s, d, "customer")
      val dim = c.select(col("c_custkey").as("k"),
          col("c_mktsegment").as("seg"), round(col("c_acctbal"), 2).as("bal"))
        .withColumn("valid_from", to_timestamp(lit("2024-01-01 00:00:00")))
        .withColumn("valid_to", lit(null).cast("timestamp"))
      val changed = c.where(col("c_custkey") % 3 === 0)
        .select(col("c_custkey").as("k"),
          concat(lit("SEG-"), (col("c_custkey") % 7).cast("string")).as("seg"),
          round(col("c_acctbal") + 10, 2).as("bal"))
      val same = c.where(col("c_custkey") % 3 === 1)
        .select(col("c_custkey").as("k"), col("c_mktsegment").as("seg"),
          round(col("c_acctbal"), 2).as("bal"))
      val maxK = c.agg(max(col("c_custkey"))).head.getLong(0) + 1L
      val fresh = c.where(col("c_custkey") % 11 === 0)
        .select((col("c_custkey") + lit(maxK)).as("k"),
          lit("NEW").as("seg"), lit(0.0).as("bal"))
      val updates = changed.unionAll(same).unionAll(fresh)
      // stage 1 — expectation gate on the DELTA, not the dimension:
      // reject before maintenance so bad rows never become versions
      import graft.operators.Expectations.{InRange, NotNull}
      val clean = graft.operators.Expectations.annotate(updates,
          Seq(NotNull("k"), InRange("bal", 0.0, 1e9)))
        .where(size(col("violations")) === 0).drop("violations")
      // stage 2 — SCD2 with the gated delta, pinned ONCE: both the
      // per-segment roll-up and the direct whole-table sketch read it
      // (recomputing the SCD2 pipeline for the second consumer was
      // measured as x102's dominant redundant job)
      val cur = graft.operators.Scd.apply2(dim, clean, Seq("k"),
          "2024-06-01 00:00:00")
        .where(col("valid_to").isNull)
        .localCheckpoint()
      // stage 3 — per-segment HLL roll-up of the maintained table
      val p = 12
      // k is unique among current rows (Scd.apply2 enforces one open
      // row per key), so n_current IS the exact distinct count — no
      // separate distinct aggregation needed
      val perSeg = cur.groupBy(col("seg"))
        .agg(count(lit(1)).as("n_current"),
          graft.functions.Hll.sketch(col("k"), p).as("__sk"))
        .localCheckpoint() // two consumers (rows + merge), one compute
      // merged and direct in ONE action (crossJoin of two 1-row aggs)
      val both = perSeg
        .agg(graft.functions.Hll.merge(col("__sk"), p).as("m"))
        .crossJoin(cur.agg(graft.functions.Hll.sketch(col("k"), p).as("dd")))
        .head
      val rollup = java.util.Arrays.equals(
        both.getAs[Array[Byte]](0), both.getAs[Array[Byte]](1))
      perSeg.select(col("seg"), col("n_current"),
          (abs(graft.functions.Hll.cardinality(col("__sk")) - col("n_current"))
            <= lit(0.05) * col("n_current")).as("within_tol"),
          lit(rollup).as("rollup_exact"))
        .orderBy(asc_nulls_first("seg"))
    }),

    // X98 [A-family sketches] the mergeable QUANTILE sketch (the
    // log-bucket relative-error design): p50/p90/p99 estimates over
    // l_extendedprice must sit within the declared α = 1% of the
    // exact rank-⌈q·n⌉ values. The sketch's bucket-addition merge is
    // commutative, so the estimate — and therefore this flag — is
    // deterministic under any partitioning (property-tested in
    // SketchesSpec); the oracle recomputes the count and pins the
    // boolean.
    "x98_quantile_sketch" -> ((s, d) =>
      graft.operators.Sketches.quantileSketchAudit(
        t(s, d, "lineitem"), "l_extendedprice",
        alpha = 0.01, qs = Seq(0.5, 0.9, 0.99))),

    // X104 [A-family sketches] per-GROUP quantile sketches — the
    // monitoring shape the mergeable sketch exists for (one sketch
    // per segment/day, quantiles per slice): per l_returnflag,
    // p50/p90/p99 over l_extendedprice each within the declared α=1%
    // of the exact in-group rank-⌈q·n_g⌉ value. The exact side never
    // sorts a whole group in one task (this gate's 3 huge groups
    // would have): one global range-rank over (group, value), then
    // in-group rank = global rank − the group's min global rank + 1.
    "x104_quantile_by_group" -> ((s, d) =>
      graft.operators.Sketches.quantileSketchAuditBy(
        t(s, d, "lineitem"), "l_extendedprice", "l_returnflag",
        alpha = 0.01, qs = Seq(0.5, 0.9, 0.99))
        .orderBy(asc_nulls_first("l_returnflag"))),

    // X41 small-file compaction: fragment a copy of documents into 40
    // files, compact to ~1 MB targets, and prove the data survived the
    // atomic swap byte-for-byte (count + key/char sums against the
    // ORIGINAL table's oracle). files_shrank pins that compaction
    // actually reduced the file count, not just rewrote.
    "x41_compaction" -> ((s, d) => {
      import s.implicits._
      val fragRoot = java.nio.file.Paths.get(scratchDir("graft_frag"))
      try {
        val frag = fragRoot.toString + "/docs"
        // fragment ONLY the audited columns: compaction mechanics
        // (listing, distributed rewrite, atomic swap) are
        // column-width-independent, so dragging the heavy `text`
        // column through the 3-pass rewrite would buy the gate
        // nothing but wall-clock (~20x the bytes)
        t(s, d, "documents").select(col("doc_id"), col("n_chars"))
          .repartition(40).write.mode("overwrite").parquet(frag)
        // scale the compaction target with the measured table size so
        // files_shrank holds at EVERY sf (a fixed 1 MB target stops
        // shrinking once the table passes ~40 MB): target ≈ bytes/10
        // → ~10 output files, always fewer than the 40 fragments.
        val fragBytes = new java.io.File(frag).listFiles()
          .filter(f => f.isFile && f.getName.endsWith(".parquet"))
          .map(_.length()).sum
        val stats = graft.catalog.Catalog.compact(s, frag,
          targetFileBytes = math.max(1L << 20, fragBytes / 10 + 1),
          // known schema (the gate wrote the dir): no inference job
          schemaOpt = Some(StructType(Seq(StructField("doc_id", LongType),
            StructField("n_chars", LongType)))))
        // materialize the 1-row audit eagerly so the staged copy can be
        // deleted here instead of leaking one fixture-sized dir per
        // invocation (the returned frame must not read the dir later)
        val r = s.read.parquet(frag)
          .agg(count(lit(1)).as("n"),
            sum(col("doc_id")).cast(LongType).as("id_sum"),
            sum(col("n_chars")).cast(LongType).as("char_sum"))
          .head()
        Seq((r.getLong(0), r.getLong(1), r.getLong(2),
          stats.filesAfter < stats.filesBefore))
          .toDF("n", "id_sum", "char_sum", "files_shrank")
      } finally rmTree(fragRoot.toFile)
    }),

    // X41b compaction over a HIVE-PARTITIONED layout (the reference's
    // DAY-partitioned tables are the layout that fragments): fragment
    // a source=… partitioned copy of documents (~10 files per
    // partition), compact per-partition, and prove both the byte-for-
    // byte survival of the data INCLUDING the partition column (its
    // values live in dir names the per-partition swap must not touch)
    // and the file-count shrink.
    "x41b_compaction_partitioned" -> ((s, d) => {
      import s.implicits._
      val fragRoot = java.nio.file.Paths.get(scratchDir("graft_fragp"))
      try {
        val frag = fragRoot.toString + "/docs"
        // audited columns only (see x41): the per-leaf swap/audit
        // properties are independent of the dropped `text` bytes
        t(s, d, "documents").select(col("doc_id"), col("source"))
          .repartition(10)
          .write.partitionBy("source").mode("overwrite").parquet(frag)
        val fragBytes = {
          def walk(f: java.io.File): Long =
            if (f.isFile) (if (f.getName.endsWith(".parquet")) f.length else 0L)
            else Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
          walk(new java.io.File(frag))
        }
        // the gate just WROTE the table, so the uniform leaf schema is
        // known — passing it skips one footer-inference job per leaf
        // (20 leaves at sf0.1; round-16 job decomposition)
        val leafSchema = StructType(Seq(StructField("doc_id", LongType)))
        val stats = graft.catalog.Catalog.compactPartitioned(s, frag,
          targetFileBytes = math.max(1L << 20, fragBytes / 10 + 1),
          schemaOpt = Some(leafSchema))
        // per-SOURCE audit: reading through the root must still
        // discover the source=… values (they live in dir names the
        // swap must preserve), and per-source count/id_sum pin that
        // no row changed partitions during the rewrite. Materialized
        // eagerly so the staged copy can be deleted here.
        val rows = s.read.parquet(frag)
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n"),
            sum(col("doc_id")).cast(LongType).as("id_sum"))
          .orderBy(asc_nulls_first("source"))
          .collect()
        val shrank = stats.filesAfter < stats.filesBefore
        rows.toSeq.map(r => (r.getString(0), r.getLong(1), r.getLong(2), shrank))
          .toDF("source", "n", "id_sum", "files_shrank")
      } finally rmTree(fragRoot.toFile)
    }),

    // X78 versioned table with time travel + O(1) rollback (the
    // Delta-log commit protocol, reduced to whole-snapshot commits):
    // v1 = even docs, v2 = a read-modify-write commit dropping
    // doc_id % 10 = 0, then rollback to v1 — the gate reads all three
    // states THROUGH the version layer (v1 and v2 by time travel, the
    // post-rollback current by plain read) and the oracle recomputes
    // each population by arithmetic. Values matching proves commits
    // are immutable, time travel resolves the right snapshot, and
    // rollback restores v1 exactly without touching data.
    "x78_versioned" -> ((s, d) => {
      import s.implicits._
      import graft.catalog.Versioned
      val root = java.nio.file.Paths.get(scratchDir("graft_vers"))
      try {
        Versioned.put(s,
          t(s, d, "documents").where(col("doc_id") % 2 === 0)
            .select(col("doc_id")), root.toString)
        Versioned.commit(s, root.toString)(
          _.where(col("doc_id") % 10 =!= 0))
        Versioned.rollback(s, root.toString, 1)
        def stat(df: org.apache.spark.sql.DataFrame, step: String) = {
          val r = df.agg(count(lit(1)).cast(LongType),
            sum(col("doc_id")).cast(LongType)).head()
          (step, r.getLong(0), r.getLong(1))
        }
        // materialized eagerly so the temp root can be deleted here
        Seq(
          stat(Versioned.readAt(s, root.toString, 1), "v1"),
          stat(Versioned.readAt(s, root.toString, 2), "v2"),
          stat(Versioned.read(s, root.toString), "v3_rollback"))
          .toDF("step", "n", "id_sum")
          .orderBy(asc_nulls_first("step"))
      } finally rmTree(root.toFile)
    }),

    // X77 Z-order clustering (the Delta/Iceberg OPTIMIZE ZORDER layout
    // technique, Morton 1966): bucket two key columns into 16-bit
    // ranks and interleave the bits — contiguous z-ranges are small
    // (x, y) rectangles, so range-partitioned files prune on EITHER
    // dimension. The gate pins the z arithmetic value-for-value (the
    // layout/pruning property itself is ZOrderSpec's locality test);
    // the oracle replays bucket + 16-term interleave with the same
    // fixed multiply-then-divide IEEE order.
    "x77_zorder" -> ((s, d) => {
      val li = t(s, d, "lineitem")
      li.select(col("l_orderkey"), col("l_linenumber"),
          graft.catalog.ZOrder.zValue(li, "l_partkey", "l_suppkey", 16)
            .as("zval"))
        .orderBy(asc_nulls_first("l_orderkey"),
          asc_nulls_first("l_linenumber"))
    }),
  )

  /** The CDC winners replayed arithmetically: %5=0 deleted, %5=1
    * resurrected by its later U, %5=2 updated, the rest pass through;
    * fresh %7=0 keys insert past MAX(c_custkey). Shared by x103 and
    * x107 — reorder-tolerant application must CONVERGE to it. */
  private val cdcApplyOracle: String =
      """SELECT k, v, bal FROM (
           SELECT c_custkey AS k,
                  CASE WHEN c_custkey % 5 = 1
                         THEN 'U2-' || CAST(c_custkey % 3 AS VARCHAR)
                       WHEN c_custkey % 5 = 2
                         THEN 'U3-' || CAST(c_custkey % 3 AS VARCHAR)
                       ELSE c_mktsegment END AS v,
                  CASE WHEN c_custkey % 5 = 1 THEN ROUND(c_acctbal, 2) + 2
                       WHEN c_custkey % 5 = 2 THEN ROUND(c_acctbal, 2) + 3
                       ELSE ROUND(c_acctbal, 2) END AS bal
           FROM customer WHERE c_custkey % 5 <> 0
           UNION ALL
           SELECT c_custkey + (SELECT MAX(c_custkey) + 1 FROM customer),
                  'NEW', 1.0
           FROM customer WHERE c_custkey % 7 = 0)
         ORDER BY k NULLS FIRST"""

  def oracleSql: Map[String, String] = Map(
    // the three version populations rebuilt by arithmetic
    "x78_versioned" ->
      """WITH v1 AS (SELECT doc_id FROM documents WHERE doc_id % 2 = 0),
         v2 AS (SELECT doc_id FROM v1 WHERE doc_id % 10 <> 0)
         SELECT 'v1' AS step, CAST(COUNT(*) AS BIGINT) AS n,
                CAST(SUM(doc_id) AS BIGINT) AS id_sum FROM v1
         UNION ALL
         SELECT 'v2', CAST(COUNT(*) AS BIGINT),
                CAST(SUM(doc_id) AS BIGINT) FROM v2
         UNION ALL
         SELECT 'v3_rollback', CAST(COUNT(*) AS BIGINT),
                CAST(SUM(doc_id) AS BIGINT) FROM v1
         ORDER BY step NULLS FIRST""",

    // bucket + Morton interleave replayed term-for-term
    "x77_zorder" -> {
      val terms = (0 until 16).map(k =>
        s"((bx >> $k) & 1) * ${1L << (2 * k)} + " +
          s"((by >> $k) & 1) * ${1L << (2 * k + 1)}").mkString(" + ")
      s"""WITH b AS (SELECT MIN(l_partkey) AS mnp, MAX(l_partkey) AS mxp,
                            MIN(l_suppkey) AS mns, MAX(l_suppkey) AS mxs
                     FROM lineitem),
         z AS (SELECT l_orderkey, l_linenumber,
           CAST(LEAST(floor(CAST(l_partkey - b.mnp AS DOUBLE) * 65536.0 /
                            (b.mxp - b.mnp + 1)), 65535) AS BIGINT) AS bx,
           CAST(LEAST(floor(CAST(l_suppkey - b.mns AS DOUBLE) * 65536.0 /
                            (b.mxs - b.mns + 1)), 65535) AS BIGINT) AS by
           FROM lineitem CROSS JOIN b)
         SELECT l_orderkey, l_linenumber, CAST($terms AS BIGINT) AS zval
         FROM z
         ORDER BY l_orderkey NULLS FIRST, l_linenumber NULLS FIRST"""
    },
    // the full training-data pipeline, one oracle: curation keepers →
    // all-pairs exact-Jaccard near-dup components (restricted to the
    // keepers) → survivors → hash split → chunk/token budget per split
    "x25_training_pipeline" -> {
      val splitExpr = graft.operators.Splits.splitSql(
        "doc_id", Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), "v1")
      s"""WITH RECURSIVE $tokCte,
         $entCte,
         $punctCte,
         $curationRulesCte,
         keepers AS (SELECT doc_id FROM rs WHERE len(reasons) = 0),
         kd AS (SELECT d.doc_id, d.text FROM documents d JOIN keepers USING (doc_id)),
         sh AS (
           SELECT doc_id AS id,
                  list_distinct(list_transform(range(1, length(text) - 3),
                    i -> substr(lower(text), CAST(i AS INT), 5))) AS s
           FROM kd WHERE length(text) >= 5),
         pairs AS (
           SELECT a.id AS id_a, b.id AS id_b
           FROM sh a, sh b WHERE a.id < b.id
             AND ROUND(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
                       len(list_distinct(list_concat(a.s, b.s))), 4) >= 0.5),
         e AS (SELECT id_a AS s, id_b AS r FROM pairs
               UNION SELECT id_b, id_a FROM pairs),
         reach AS (
           SELECT s AS id, r FROM e
           UNION
           SELECT reach.id, e.r FROM reach JOIN e ON e.s = reach.r),
         comp AS (SELECT id, LEAST(id, MIN(r)) AS c FROM reach GROUP BY id),
         survivors AS (
           SELECT doc_id FROM kd
           WHERE doc_id NOT IN (SELECT id FROM comp WHERE c < id)),
         fin AS (
           SELECT $splitExpr AS split, len(ts) AS n,
                  CASE WHEN len(ts) = 0 THEN 0
                       WHEN len(ts) <= 80 THEN 1
                       ELSE 1 + CAST(ceil(CAST(len(ts) - 80 AS DOUBLE) / 60) AS INT)
                  END AS c
           FROM survivors JOIN tok USING (doc_id))
         SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs,
                CAST(SUM(c) AS BIGINT) AS n_chunks,
                CAST(SUM(n) AS BIGINT) AS n_tokens
         FROM fin GROUP BY 1 ORDER BY split NULLS FIRST"""
    },
    // replay of the x49 TransferRequest construction straight from
    // orders: the Kafka-shaped produce/poll/decode round trip must be
    // lossless and duplicate-free for the aggregate to hash-match
    "x49_kafka_transfer" ->
      """WITH o AS (SELECT * FROM orders ORDER BY o_orderkey LIMIT 200)
         SELECT substr(CAST(CAST(o_orderdate AS DATE) AS VARCHAR), 1, 7) AS month,
                COUNT(*) AS n_files,
                CAST(SUM(CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_remove
         FROM o GROUP BY 1 ORDER BY month NULLS FIRST""",
    // same replay as x49 — the streaming consumer (readStream +
    // foreachBatch + commitPolled) must deliver the identical
    // lossless, duplicate-free aggregate
    "x49b_kafka_stream" ->
      """WITH o AS (SELECT * FROM orders ORDER BY o_orderkey LIMIT 200)
         SELECT substr(CAST(CAST(o_orderdate AS DATE) AS VARCHAR), 1, 7) AS month,
                COUNT(*) AS n_files,
                CAST(SUM(CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_remove
         FROM o GROUP BY 1 ORDER BY month NULLS FIRST""",
    // relational replay of the physical MERGE: full outer join on the
    // key, update-row-wins on every non-key column
    "x51_merge_upsert" ->
      """WITH rev AS (SELECT o_custkey, ROUND(SUM(o_totalprice), 2) AS rev
                      FROM orders GROUP BY o_custkey),
         upd AS (SELECT o_custkey AS k,
                        'upd_' || CAST(o_custkey AS VARCHAR) AS nm, rev
                 FROM rev WHERE o_custkey % 3 = 0
                 UNION ALL
                 SELECT o_custkey + 1000000,
                        'new_' || CAST(o_custkey AS VARCHAR), rev
                 FROM rev WHERE o_custkey % 7 = 0)
         SELECT COALESCE(u.k, c.c_custkey) AS c_custkey,
                CASE WHEN u.k IS NOT NULL THEN u.nm ELSE c.c_name END AS c_name,
                CASE WHEN u.k IS NOT NULL THEN u.rev
                     ELSE ROUND(c.c_acctbal, 2) END AS c_acctbal
         FROM customer c FULL OUTER JOIN upd u ON c.c_custkey = u.k
         ORDER BY c_custkey NULLS FIRST""",
    // old files' rows carry NULL in the added column — exactly the
    // relational CASE
    "x95_schema_evolution" ->
      """SELECT doc_id, n_chars,
                CASE WHEN doc_id >= 250 THEN lang END AS lang
         FROM documents
         ORDER BY doc_id NULLS FIRST""",
    // the erasure the physical per-leaf rewrite must equal: a plain
    // anti-join on the key (absent keys are no-ops by construction)
    "x93_delete_keys" ->
      """SELECT c_custkey, c_name, ROUND(c_acctbal, 2) AS c_acctbal,
                c_mktsegment
         FROM customer
         WHERE c_custkey % 7 <> 3
         ORDER BY c_custkey NULLS FIRST""",
    // relational replay of the PARTITION-SCOPED merge: the partition
    // column joins as part of the merge identity, so a key only
    // matches within its own partition — exactly what rewriting only
    // touched leaves implements physically
    "x51b_merge_partitioned" ->
      """WITH rev AS (SELECT o_custkey, ROUND(SUM(o_totalprice), 2) AS rev
                      FROM orders GROUP BY o_custkey),
         upd AS (SELECT c.c_custkey AS k,
                        'upd_' || CAST(r.o_custkey AS VARCHAR) AS nm,
                        r.rev, c.c_mktsegment AS seg
                 FROM rev r JOIN customer c ON c.c_custkey = r.o_custkey
                 WHERE r.o_custkey % 3 = 0
                 UNION ALL
                 SELECT o_custkey + 1000000,
                        'new_' || CAST(o_custkey AS VARCHAR), rev, 'SYNTHETIC'
                 FROM rev WHERE o_custkey % 7 = 0)
         SELECT COALESCE(u.k, c.c_custkey) AS c_custkey,
                CASE WHEN u.k IS NOT NULL THEN u.nm ELSE c.c_name END AS c_name,
                CASE WHEN u.k IS NOT NULL THEN u.rev
                     ELSE ROUND(c.c_acctbal, 2) END AS c_acctbal,
                COALESCE(u.seg, c.c_mktsegment) AS c_mktsegment
         FROM customer c
         FULL OUTER JOIN upd u ON c.c_custkey = u.k AND c.c_mktsegment = u.seg
         ORDER BY c_custkey NULLS FIRST""",
    "x41_compaction" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n,
                CAST(SUM(doc_id) AS BIGINT) AS id_sum,
                CAST(SUM(n_chars) AS BIGINT) AS char_sum,
                TRUE AS files_shrank
         FROM documents""",
    "x41b_compaction_partitioned" ->
      """SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
                CAST(SUM(doc_id) AS BIGINT) AS id_sum,
                TRUE AS files_shrank
         FROM documents GROUP BY source ORDER BY source NULLS FIRST""",
    "x33_cms_audit" ->
      """SELECT CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_keys,
         CAST(0 AS BIGINT) AS undercount_violations,
         CAST(0 AS BIGINT) AS overcount_violations
         FROM events""",
    "x34_bloom_audit" ->
      """SELECT CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_keys,
         CAST(0 AS BIGINT) AS false_negatives,
         true AS fp_ok
         FROM events""",
    "x98_quantile_sketch" ->
      """SELECT CAST(COUNT(l_extendedprice) AS BIGINT) AS n_vals,
         true AS within_alpha
         FROM lineitem""",
    "x101_hll_sketch" ->
      """SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact,
         true AS within_tol, true AS rollup_exact
         FROM events""",
    "x104_quantile_by_group" ->
      """SELECT l_returnflag,
         CAST(COUNT(l_extendedprice) AS BIGINT) AS n_vals,
         true AS within_alpha
         FROM lineitem GROUP BY l_returnflag
         ORDER BY l_returnflag NULLS FIRST""",
    // every expectation's violation count recomputed with the same
    // NULL semantics (value rules pass on NULL, predicate fails)
    "x99_expectations" ->
      """SELECT rule, violations, violations = 0 AS pass FROM (
           SELECT 'in_range(l_quantity,1.0,25.0)' AS rule,
                  CAST(COUNT(*) FILTER (WHERE NOT (l_quantity IS NULL OR
                    (l_quantity >= 1.0 AND l_quantity <= 25.0))) AS BIGINT) AS violations
           FROM lineitem
           UNION ALL
           SELECT 'matches(l_linestatus)',
                  CAST(COUNT(*) FILTER (WHERE NOT (l_linestatus IS NULL OR
                    regexp_matches(l_linestatus, '^[OF]$'))) AS BIGINT)
           FROM lineitem
           UNION ALL
           SELECT 'not_null(l_orderkey)',
                  CAST(COUNT(*) FILTER (WHERE l_orderkey IS NULL) AS BIGINT)
           FROM lineitem
           UNION ALL
           SELECT 'one_of(l_returnflag)',
                  CAST(COUNT(*) FILTER (WHERE NOT (l_returnflag IS NULL OR
                    l_returnflag IN ('A', 'N'))) AS BIGINT)
           FROM lineitem
           UNION ALL
           SELECT 'predicate(disc_vs_tax)',
                  CAST(COUNT(*) FILTER (WHERE NOT COALESCE(
                    l_discount <= l_tax + 0.08, FALSE)) AS BIGINT)
           FROM lineitem
           UNION ALL
           SELECT 'ref(l_orderkey->o_orderkey)',
                  (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem l
                   WHERE l.l_orderkey IS NOT NULL AND NOT EXISTS
                     (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
           UNION ALL
           SELECT 'unique(l_orderkey)',
                  (SELECT CAST(COALESCE(SUM(n - 1), 0) AS BIGINT) FROM
                    (SELECT COUNT(*) AS n FROM lineitem GROUP BY l_orderkey)
                   WHERE n > 1)
           UNION ALL
           SELECT 'unique(l_orderkey,l_linenumber)',
                  (SELECT CAST(COALESCE(SUM(n - 1), 0) AS BIGINT) FROM
                    (SELECT COUNT(*) AS n FROM lineitem
                     GROUP BY l_orderkey, l_linenumber)
                   WHERE n > 1))
         ORDER BY rule NULLS FIRST""",
    // full-value SCD2 replay: changed keys close at the as-of ts and
    // reopen, identical updates cause no churn, new keys insert
    "x100_scd2" ->
      """SELECT * FROM (
           SELECT c_custkey AS k, c_mktsegment AS seg,
                  ROUND(c_acctbal, 2) AS bal,
                  TIMESTAMP '2024-01-01 00:00:00' AS valid_from,
                  CASE WHEN c_custkey % 3 = 0
                       THEN TIMESTAMP '2024-06-01 00:00:00' END AS valid_to
           FROM customer
           UNION ALL
           SELECT c_custkey, 'SEG-' || CAST(c_custkey % 7 AS VARCHAR),
                  ROUND(c_acctbal + 10, 2),
                  TIMESTAMP '2024-06-01 00:00:00', NULL
           FROM customer WHERE c_custkey % 3 = 0
           UNION ALL
           SELECT c_custkey + (SELECT MAX(c_custkey) + 1 FROM customer),
                  'NEW', 0.0,
                  TIMESTAMP '2024-06-01 00:00:00', NULL
           FROM customer WHERE c_custkey % 11 = 0)
         ORDER BY k NULLS FIRST, valid_from NULLS FIRST""",
    // the CDC winners replayed arithmetically: %5=0 deleted, %5=1
    // resurrected by its later U, %5=2 updated, the rest pass
    // through; fresh %7=0 keys insert past MAX(c_custkey)
    "x103_cdc_apply" -> cdcApplyOracle,
    // x107 applies the SAME feed in reversed batch order through the
    // tombstone + sequence guard — convergence means the same oracle
    "x107_cdc_ordered" -> cdcApplyOracle,
    // x112 streams the SAME feed through foreachBatch micro-batches in
    // reversed order — the materialized state must converge to the
    // identical snapshot
    "x112_cdc_stream" -> cdcApplyOracle,
    // the three-batch folded state must equal the direct aggregate
    // over ALL orders; avg = sum / non-null count (exact SQL AVG)
    "x114_incremental_agg" ->
      """SELECT CAST(o_custkey AS BIGINT) AS o_custkey,
                CAST(COUNT(*) AS BIGINT) AS n_rows,
                CAST(COUNT(o_totalprice) AS BIGINT) AS o_totalprice_cnt,
                ROUND(SUM(o_totalprice), 2) AS sum_price,
                ROUND(MIN(o_totalprice), 2) AS min_price,
                ROUND(MAX(o_totalprice), 2) AS max_price,
                FLOOR(ROUND(SUM(o_totalprice), 2)
                  / COUNT(o_totalprice) * 100 + 0.5) / 100 AS avg_price
         FROM orders GROUP BY o_custkey ORDER BY o_custkey""",
    // the diff winners replayed arithmetically: %4=0 balance-bumped
    // (U with the new payload), %4=1 dropped (D with NULL payload),
    // %9=0 fresh keys inserted, the rest absent
    "x105_cdc_diff" ->
      """SELECT k, seq, op, v, bal FROM (
           SELECT c_custkey AS k, CAST(1 AS BIGINT) AS seq, 'U' AS op,
                  c_mktsegment AS v, ROUND(c_acctbal, 2) + 5 AS bal
           FROM customer WHERE c_custkey % 4 = 0
           UNION ALL
           SELECT c_custkey, 1, 'D', NULL, NULL
           FROM customer WHERE c_custkey % 4 = 1
           UNION ALL
           SELECT c_custkey + (SELECT MAX(c_custkey) + 1 FROM customer),
                  1, 'I', 'NEW', 1.0
           FROM customer WHERE c_custkey % 9 = 0)
         ORDER BY k NULLS FIRST""",
    // the x100 replay restricted to CURRENT rows, with the x99 gate
    // folded in: a changed key keeps its ORIGINAL segment when its
    // update is quarantined (bal = round(acctbal+10, 2) < 0 ⇔
    // acctbal < −10 — acctbal has 2 decimals, no rounding ambiguity);
    // sketch verdicts are deterministic (fixed hash) and pinned true
    "x102_governed_dim" ->
      """WITH cur AS (
           SELECT CASE WHEN c_custkey % 3 = 0 AND c_acctbal >= -10
                       THEN 'SEG-' || CAST(c_custkey % 7 AS VARCHAR)
                       ELSE c_mktsegment END AS seg,
                  c_custkey AS k
           FROM customer
           UNION ALL
           SELECT 'NEW', c_custkey + (SELECT MAX(c_custkey) + 1 FROM customer)
           FROM customer WHERE c_custkey % 11 = 0)
         SELECT seg, CAST(COUNT(*) AS BIGINT) AS n_current,
                true AS within_tol, true AS rollup_exact
         FROM cur GROUP BY seg
         ORDER BY seg NULLS FIRST""",
  )
}
