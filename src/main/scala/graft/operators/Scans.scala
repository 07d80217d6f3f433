package graft.operators

import graft.{Canon, Q, Tables}
import graft.Canon.{sql => O}
import graft.api.Maintenance
import org.apache.spark.sql.functions._

/** §2.1 — scans/sources. Filters and projections sit directly on the
  * parquet scan so Catalyst pushes them down (verify with
  * `.explain`: PushedFilters + pruned ReadSchema). At 100 TB that is
  * the difference between reading 4 columns of a few row groups and
  * reading everything.
  */
object Scans {
  /** Shared exposure sweep behind the privacy reports
    * (data_kanonymity_report / data_ldiversity_report): a group frame
    * carrying `_sz` (group row count) plus a per-group metric is
    * crossed with the sweep thresholds (explodes the tiny |groups|
    * frame, never rows) and rolled up to groups-below / rows-exposed /
    * integer-ppm per threshold. The group frame is pinned here — it
    * fans into the total AND the sweep (§7.2). */
  private def exposureSweep(g: org.apache.spark.sql.DataFrame,
      metric: org.apache.spark.sql.Column, sweep: Seq[Int],
      sweepName: String, lowName: String, rowsName: String,
      ppmName: String): org.apache.spark.sql.DataFrame = {
    val pinned = graft.api.Checkpoints.pin(g)
    val tot = pinned.agg(sum(col("_sz")).as("_n"), count(lit(1)).as("_g"))
    pinned.crossJoin(broadcast(tot))
      .select(explode(array(sweep.map(lit(_)): _*)).as(sweepName),
        col("_sz"), metric.as("_m"), col("_n"), col("_g"))
      .groupBy(sweepName)
      .agg(max(col("_g")).as("n_groups"),
        sum(when(col("_m") < col(sweepName), 1L).otherwise(0L)).as(lowName),
        sum(when(col("_m") < col(sweepName), col("_sz")).otherwise(0L))
          .as(rowsName),
        max(col("_n")).as("_nn"))
      .withColumn(ppmName, expr(s"$rowsName * 1000000 div _nn"))
      .drop("_nn")
      .orderBy(sweepName)
  }

  val queries: Map[String, Q] = Map(
    "scan_parquet_project_filter" -> ((s, d) => {
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") < "1996-01-01" && col("l_quantity") > 45)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          col("l_quantity"), col("l_extendedprice"))
        .orderBy("l_orderkey", "l_linenumber")
    }),
    "scan_events_nanos" -> ((s, d) => {
      Tables.events(s, d)
        .select(col("event_id"), Canon.tsStrMicros(col("ts")).as("ts_str"),
          col("user_id"), col("event_type"), col("value"), col("props"))
        .orderBy("event_id")
    }),
    "scan_jsonl_events" -> ((s, d) => {
      // JSONL ingest — the format real crawl pipelines hand the engine
      // first: events → line-delimited JSON (µs-precision ISO
      // timestamps; the default format would truncate to ms) →
      // schema-explicit FAILFAST read-back → aggregate. The oracle twin
      // aggregates the PARQUET table directly, so a hash match proves
      // the JSON hop is lossless for int64 keys, doubles, µs
      // timestamps, AND the embedded-JSON props string (escaping
      // round-trip). Scratch dir keyed by (sfDir digest, pid) so scale
      // factors and concurrent processes never collide.
      val ev = Tables.events(s, d)
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
      val tmp = graft.sources.Writers.roundTripDir("graft_jsonl_events", d)
      val usFmt = graft.sources.Writers.MicrosTimestampFormat
      graft.sources.Writers.writeJsonLines(ev, tmp, usFmt)
      graft.sources.Readers.jsonLines(s, tmp, ev.schema, usFmt)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          countDistinct(col("user_id")).as("n_users"),
          countDistinct(col("props")).as("n_props"),
          Canon.sumDec(col("value"), 2).as("sum_val"),
          Canon.tsStrMicros(min(col("ts"))).as("min_ts"),
          Canon.tsStrMicros(max(col("ts"))).as("max_ts"))
        .orderBy("event_type")
    }),
    "scan_partitioned_events" -> ((s, d) => {
      // directory-partitioned layout round-trip — the first-order
      // 100 TB scan optimization: events written one dir per
      // event_type, read back with a 2-type filter that must prune at
      // the FILE INDEX (PartitionFilters, asserted in PlanShapeSpec —
      // the other 3 types' files are never opened), then aggregated.
      // Oracle aggregates the flat parquet with the same predicate, so
      // the hash match proves the partitioned layout loses nothing.
      val ev = Tables.events(s, d)
        .select("event_id", "ts", "user_id", "event_type", "value")
      val dir = graft.sources.Writers.roundTripDir("graft_part_events", d)
      graft.sources.Writers.writePartitioned(ev, "event_type", dir)
      s.read.parquet(dir)
        .filter(col("event_type").isin("click", "purchase"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          countDistinct(col("user_id")).as("n_users"),
          Canon.sumDec(col("value"), 2).as("sum_val"))
        .orderBy("event_type")
    }),
    "scan_csv_lineitem" -> ((s, d) => {
      // CSV ingest, the JSONL key's flat-file twin on the widest fact
      // table: a lineitem projection → header'd CSV (µs timestamps) →
      // schema-explicit FAILFAST read-back → aggregate, with the
      // oracle aggregating the PARQUET table — a hash match proves the
      // text hop preserves int64 keys, decimals-in-doubles, flags, and
      // timestamps. Doubles round-trip because Spark's CSV writer
      // emits the shortest round-trippable decimal form (Java
      // Double.toString) and the reader parses it back to the same
      // bits.
      val li = Tables.lineitem(s, d).select("l_orderkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_returnflag", "l_shipdate")
      val tmp = graft.sources.Writers.roundTripDir("graft_csv_lineitem", d)
      val usFmt = graft.sources.Writers.MicrosTimestampFormat
      graft.sources.Writers.writeCsv(li, tmp, usFmt)
      graft.sources.Readers.csv(s, tmp, li.schema, usFmt)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity")).as("sum_qty"),
          Canon.sumDec(col("l_extendedprice"), 2).as("sum_price"),
          Canon.tsStr(min(col("l_shipdate"))).as("min_ship"),
          Canon.tsStr(max(col("l_shipdate"))).as("max_ship"))
        .orderBy("l_returnflag")
    }),
    "scan_orc_orders" -> ((s, d) => {
      // ORC round-trip — the third format twin (parquet/CSV/JSONL
      // exist): orders → ORC → schema-explicit read-back → aggregate,
      // oracle aggregating the PARQUET table. Columnar-to-columnar, so
      // the hash match proves type fidelity (int64 keys, doubles,
      // ms-precision timestamps) with no text-format caveats — the
      // hop a Hive-lineage warehouse migration actually takes.
      val ord = Tables.orders(s, d).select("o_orderkey", "o_custkey",
        "o_orderstatus", "o_totalprice", "o_orderdate")
      val tmp = graft.sources.Writers.roundTripDir("graft_orc_orders", d)
      graft.sources.Writers.writeOrc(ord, tmp)
      graft.sources.Readers.orc(s, tmp, ord.schema)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          countDistinct(col("o_custkey")).as("n_cust"),
          Canon.sumDec(col("o_totalprice"), 2).as("sum_total"),
          Canon.tsStr(min(col("o_orderdate"))).as("min_date"),
          Canon.tsStr(max(col("o_orderdate"))).as("max_date"))
        .orderBy("o_orderstatus")
    }),
    "scan_bucketed_join" -> ((s, d) => {
      // bucketed-storage exchange-free join — THE write-time layout
      // lever for a 100 TB fact-fact join: orders and lineitem are
      // both written bucketed (and sorted) by their order key with the
      // same bucket count, so the join's required distribution is
      // satisfied straight off the scan and NO shuffle of either fact
      // table ever happens — at scale that's the difference between
      // moving 100 TB over the network per join and moving nothing.
      // The per-order aggregate after it groups on the same key, so it
      // too rides the bucket layout exchange-free (asserted in
      // PlanShapeSpec: the only shuffle in the whole plan is the final
      // presentation orderBy). The merge hint pins SMJ so a stats
      // regime where orders fits a broadcast can't silently skip the
      // layout being demonstrated. Oracle joins the flat parquet — a
      // hash match proves the bucketed layout loses nothing.
      val ord = Tables.orders(s, d)
        .select("o_orderkey", "o_orderpriority")
      val li = Tables.lineitem(s, d)
        .select("l_orderkey", "l_quantity", "l_extendedprice")
      val base = graft.sources.Writers.roundTripDir("graft_bkt_join", d)
      graft.sources.Writers.writeBucketed(ord, "o_orderkey", 8,
        "graft_bkt_orders", s"$base/orders")
      graft.sources.Writers.writeBucketed(li, "l_orderkey", 8,
        "graft_bkt_lineitem", s"$base/lineitem")
      s.table("graft_bkt_orders").hint("merge")
        .join(s.table("graft_bkt_lineitem"),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy("o_orderkey", "o_orderpriority")
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_quantity")).as("sum_qty"),
          Canon.sumDec(col("l_extendedprice"), 2).as("sum_price"))
        .orderBy("o_orderkey")
    }),
    "scan_clustered_minmax" -> ((s, d) => {
      // range-clustered layout round-trip — the data-skipping lever
      // for HIGH-CARDINALITY ordered keys, completing the layout
      // family (directory partitioning = low-cardinality,
      // scan_partitioned_events; bucketing = join keys,
      // scan_bucketed_join): lineitem rewritten so each of 8 files
      // owns a disjoint l_shipdate range, sorted within the file, so
      // a one-month predicate is answered from the ~1 file whose
      // parquet footer min/max overlaps it — row-group stats pruning
      // inside the ordinary scan, no directory scheme, no table
      // format. WritePathSpec MEASURES it (clustered scan emits a
      // small fraction of the rows the same scan emits on a
      // round-robin layout); the oracle aggregates the flat parquet
      // under the same predicate, proving the rewrite loses nothing.
      val li = Tables.lineitem(s, d).select("l_orderkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_returnflag", "l_shipdate")
      val dir = graft.sources.Writers.roundTripDir("graft_clustered_li", d)
      graft.sources.Writers.writeRangeClustered(li, "l_shipdate", 8, dir)
      s.read.parquet(dir)
        .filter(col("l_shipdate") >= "1995-06-01" &&
          col("l_shipdate") < "1995-07-01")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity")).as("sum_qty"),
          Canon.sumDec(col("l_extendedprice"), 2).as("sum_price"))
        .orderBy("l_returnflag")
    }),
    "data_gdpr_delete" -> ((s, d) => {
      // right-to-be-forgotten pass — the deletion op every stored
      // training corpus legally needs: users whose md5 first hex
      // < '2' (~1/8, the established deterministic request-set
      // convention) are scrubbed by an anti-filter REWRITE of the
      // table, and the audit reads KEPT counts from the REWRITTEN
      // parquet (not the source), so the oracle hash proves the
      // rewrite deleted exactly the request set and kept everything
      // else. n_leaked re-scans the rewritten table for request-set
      // users — 0 on both sides, the scrub-completeness witness in
      // the declared output itself. At 100 TB this is a partition-
      // pruned rewrite of affected partitions, not a full-table pass;
      // the per-file shape here is the same filter+rewrite.
      def isDel(c: org.apache.spark.sql.Column) =
        substring(md5(c.cast("string").cast("binary")), 1, 1) < "2"
      val ev = Tables.events(s, d)
      val dir = graft.sources.Writers.roundTripDir("graft_gdpr_events", d)
      ev.filter(!isDel(col("user_id"))).write.mode("overwrite").parquet(dir)
      val kept = s.read.parquet(dir)
      val keptAgg = kept.groupBy("event_type")
        .agg(count(lit(1)).as("n_kept"),
          countDistinct(col("user_id")).as("users_kept"),
          sum(isDel(col("user_id")).cast("long")).as("n_leaked"))
      val delAgg = ev.filter(isDel(col("user_id"))).groupBy("event_type")
        .agg(count(lit(1)).as("n_deleted"),
          countDistinct(col("user_id")).as("users_deleted"))
      keptAgg.join(delAgg, Seq("event_type"), "full_outer")
        .select(col("event_type"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          coalesce(col("users_kept"), lit(0L)).as("users_kept"),
          coalesce(col("n_deleted"), lit(0L)).as("n_deleted"),
          coalesce(col("users_deleted"), lit(0L)).as("users_deleted"),
          coalesce(col("n_leaked"), lit(0L)).as("n_leaked"))
        .orderBy("event_type")
    }),
    "data_zorder_cluster" -> ((s, d) => {
      // Z-order clustered layout round-trip — multi-dimension data
      // skipping, completing the layout family beyond single-column
      // range clustering: lineitem rewritten along the Morton curve
      // of (l_partkey, l_suppkey), so EACH single-column predicate
      // prunes by footer min/max (~√files touched) where a
      // partkey-sorted layout would leave suppkey predicates scanning
      // everything. Both probe predicates aggregate from the z-curve
      // layout; the oracle runs them on the flat parquet, proving the
      // rewrite loses nothing. WritePathSpec MEASURES the per-file
      // min/max rectangles both ways.
      val li = Tables.lineitem(s, d).select("l_orderkey", "l_partkey",
        "l_suppkey", "l_quantity", "l_extendedprice")
      val dir = graft.sources.Writers.roundTripDir("graft_zorder_li", d)
      graft.sources.Writers.writeZOrdered(li, "l_partkey", "l_suppkey", 16, dir)
      val z = s.read.parquet(dir)
      def probe(name: String, f: org.apache.spark.sql.Column) =
        z.filter(f).agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("sum_qty"),
          Canon.sumDec(col("l_extendedprice"), 2).as("rev"))
          .select(lit(name).as("probe"), col("n"), col("sum_qty"), col("rev"))
      probe("partkey", col("l_partkey") <= 40)
        .unionByName(probe("suppkey", col("l_suppkey") <= 2))
        .orderBy("probe")
    }),
    "data_snapshot_read" -> ((s, d) => {
      // manifest-pinned snapshot reads (r19) — the Iceberg/Delta
      // time-travel READ model without the table-format library,
      // closing the transactional-semantics gap the r18 VERDICT
      // ranked #5: a snapshot version IS a manifest (tiny file-path
      // table), commits never rewrite data (append = new files + new
      // manifest; delete = drop files from the NEXT manifest only),
      // and a versioned read opens exactly its manifest's files.
      // Three commits are staged — v0 = base groups a+b, v1 = +delta
      // append, v2 = file-level delete of group b — and the key reads
      // ALL THREE versions after every commit has landed: the v0/v1
      // aggregates matching the oracle's pre-commit predicates IS the
      // snapshot-isolation proof (later commits changed nothing a
      // pinned reader sees). WritePathSpec additionally asserts the
      // v2 scan never opens a group-b file.
      val base = graft.sources.Writers.roundTripDir("graft_snapshots", d)
      Maintenance.dropTable(s, base) // fresh table per run (bench reruns keys)
      val orders = Tables.orders(s, d)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      val m = col("o_orderkey") % 4
      val fA = Maintenance.writeDataGroup(orders.filter(m.isin(0, 1)), base, "a")
      val fB = Maintenance.writeDataGroup(orders.filter(m === 2), base, "b")
      Maintenance.writeManifest(s, base, 0, fA ++ fB)
      val fD = Maintenance.writeDataGroup(orders.filter(m === 3), base, "delta")
      Maintenance.writeManifest(s, base, 1, fA ++ fB ++ fD)
      Maintenance.writeManifest(s, base, 2, fA ++ fD)
      (0 to 2).map { v =>
        Maintenance.readSnapshot(s, base, v)
          .agg(count(lit(1)).as("n_rows"),
            countDistinct(col("o_orderkey")).as("n_keys"),
            Canon.sumDec(col("o_totalprice"), 2).as("sum_price"))
          .select(lit(v.toLong).as("version"), col("n_rows"),
            col("n_keys"), col("sum_price"))
      }.reduce(_ unionByName _).orderBy("version")
    }),
    "data_snapshot_compact" -> ((s, d) => {
      // snapshot-AWARE compaction (r20) — compaction expressed as a
      // manifest rewrite over the data_snapshot_read table model:
      // v0 = a deliberately fragmented group (24 tiny files) + a
      // healthy group; the compaction commit rewrites ONLY the
      // fragmented group's content into a new size-targeted group and
      // points v1 at (compacted ++ healthy) — v0's files are never
      // touched, so the prior snapshot stays readable (pure metadata
      // swap for pinned readers; a crashed compaction leaves only an
      // unreferenced group). The key emits the data_table_checksum
      // fold (order-independent 60-bit md5 xor + exact mod-2⁶⁰ sum)
      // of BOTH versions: identical checksums prove compaction moved
      // every row exactly once, and both must equal the oracle's fold
      // over the source table. WritePathSpec pins the file mechanics
      // (v1 opens fewer files, none of them frag's; frag bytes
      // untouched; the healthy group's files shared by both
      // manifests).
      import org.apache.spark.sql.types.DecimalType
      val base = graft.sources.Writers.roundTripDir("graft_snapcompact", d)
      Maintenance.dropTable(s, base) // fresh table per run (bench reruns keys)
      val orders = Tables.orders(s, d)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      val m = col("o_orderkey") % 4
      val fFrag = Maintenance.writeDataGroup(
        orders.filter(m.isin(0, 1)).repartition(24), base, "frag")
      val fB = Maintenance.writeDataGroup(orders.filter(m.isin(2, 3)), base, "b")
      Maintenance.writeManifest(s, base, 0, fFrag ++ fB)
      val fComp = Maintenance.compactFiles(s, base, fFrag, "compact",
        targetBytes = 4L * 1024 * 1024)
      Maintenance.writeManifest(s, base, 1, fComp ++ fB)
      val rowStr = concat_ws("|", col("o_orderkey"), col("o_orderstatus"),
        col("o_totalprice").cast(DecimalType(18, 2)))
      val h = conv(substring(md5(rowStr), 1, 15), 16, 10).cast("long")
      (0 to 1).map { v =>
        Maintenance.readSnapshot(s, base, v).select(h.as("_h"))
          .agg(count(lit(1)).as("n_rows"),
            expr("bit_xor(_h)").as("xor_checksum"),
            pmod(sum(col("_h").cast(DecimalType(38, 0))),
              lit(1152921504606846976L).cast(DecimalType(38, 0)))
              .cast("long").as("sum_checksum"))
          .select(lit(v.toLong).as("version"), col("n_rows"),
            col("xor_checksum"), col("sum_checksum"))
      }.reduce(_ unionByName _).orderBy("version")
    }),
    "data_snapshot_expire" -> ((s, d) => {
      // snapshot EXPIRY + GC (r20) — the retention half of the
      // lakehouse lifecycle, closing the loop data_snapshot_compact
      // opens (compaction leaves the fragmented group unreferenced by
      // the NEW manifest but still referenced by the OLD one — only
      // expiry may reclaim it): stage v0 = frag+b and the compaction
      // commit v1 = compact+b exactly as data_snapshot_compact, then
      // expire v0 — manifests first, then delete every data file no
      // surviving manifest references (the frag group). The key emits
      // the table-checksum fold of v1 read AFTER the GC: a hash match
      // vs the oracle's fold over the source table proves the GC
      // deleted ONLY unreferenced bytes. WritePathSpec pins the file
      // mechanics (frag files gone, compact+b intact, v0 unreadable,
      // v1 pre≡post, counts exact).
      import org.apache.spark.sql.types.DecimalType
      val base = graft.sources.Writers.roundTripDir("graft_snapexpire", d)
      Maintenance.dropTable(s, base) // fresh table per run (bench reruns keys)
      val orders = Tables.orders(s, d)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      val m = col("o_orderkey") % 4
      val fFrag = Maintenance.writeDataGroup(
        orders.filter(m.isin(0, 1)).repartition(24), base, "frag")
      val fB = Maintenance.writeDataGroup(orders.filter(m.isin(2, 3)), base, "b")
      Maintenance.writeManifest(s, base, 0, fFrag ++ fB)
      val fComp = Maintenance.compactFiles(s, base, fFrag, "compact",
        targetBytes = 4L * 1024 * 1024)
      Maintenance.writeManifest(s, base, 1, fComp ++ fB)
      val (nManifests, nFiles) = Maintenance.expireSnapshots(s, base, keep = Seq(1))
      val rowStr = concat_ws("|", col("o_orderkey"), col("o_orderstatus"),
        col("o_totalprice").cast(DecimalType(18, 2)))
      val h = conv(substring(md5(rowStr), 1, 15), 16, 10).cast("long")
      Maintenance.readSnapshot(s, base, 1).select(h.as("_h"))
        .agg(count(lit(1)).as("n_rows"),
          expr("bit_xor(_h)").as("xor_checksum"),
          pmod(sum(col("_h").cast(DecimalType(38, 0))),
            lit(1152921504606846976L).cast(DecimalType(38, 0)))
            .cast("long").as("sum_checksum"))
        .select(lit(nManifests.toLong).as("n_manifests_expired"),
          lit(nFiles.toLong).as("n_files_gced"),
          col("n_rows"), col("xor_checksum"), col("sum_checksum"))
    }),
    "data_compact_small_files" -> ((s, d) => {
      // small-file compaction — the #1 100 TB scan-throughput killer
      // (every file costs a task + footer read + open/close) and the
      // maintenance op every streaming ingest needs downstream. The
      // key manufactures the mess (events sprayed across 64 tiny
      // files), compacts it to ceil(bytes/target) files via
      // Writers.compact (here target = 1 MiB so the fixture genuinely
      // compacts to FEWER, multi-row-group-sized files rather than
      // degenerating to 1), and aggregates the compacted table. The
      // oracle aggregates the original parquet — a hash match proves
      // compaction moved every row exactly once. WritePathSpec asserts
      // the file-count arithmetic and the shrink.
      val ev = Tables.events(s, d)
        .select("event_id", "ts", "user_id", "event_type", "value")
      val frag = graft.sources.Writers.roundTripDir("graft_frag_events", d)
      val comp = graft.sources.Writers.roundTripDir("graft_compact_events", d)
      ev.repartition(64).write.mode("overwrite").parquet(frag)
      graft.sources.Writers.compact(s, frag, comp, targetBytes = 1L * 1024 * 1024)
      s.read.parquet(comp)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          countDistinct(col("user_id")).as("n_users"),
          Canon.sumDec(col("value"), 2).as("sum_val"),
          Canon.tsStrMicros(min(col("ts"))).as("min_ts"),
          Canon.tsStrMicros(max(col("ts"))).as("max_ts"))
        .orderBy("event_type")
    }),
    "data_upsert_merge" -> ((s, d) => {
      // MERGE INTO semantics (api.Maintenance.upsertMerge): a
      // deterministic update batch (every 7th order repriced ×1.1 in
      // exact DECIMAL, every 13th mirrored as a new negative-key
      // insert at -k-1 — NOT -k: the fixture contains o_orderkey 0,
      // and -0 = 0 would put key 0 in both branches, an ill-defined
      // duplicate-key MERGE whose tie order flips between engines)
      // merged into the orders snapshot with one full-outer
      // key shuffle — the nightly merge-on-read loop every lakehouse
      // table runs; the emitted action column audits keep/update/insert
      val snap = Tables.orders(s, d)
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      val priced = (col("o_totalprice").cast("decimal(18,2)")
        * lit(new java.math.BigDecimal("1.1"))).cast("double")
      val updates = snap.filter(col("o_orderkey") % 7 === 0)
        .select(col("o_orderkey"), col("o_custkey"),
          lit("U").as("o_orderstatus"), priced.as("o_totalprice"))
        .unionByName(snap.filter(col("o_orderkey") % 13 === 0)
          .select((-col("o_orderkey") - 1).as("o_orderkey"), col("o_custkey"),
            lit("N").as("o_orderstatus"), col("o_totalprice")))
      graft.api.Maintenance.upsertMerge(snap, updates, "o_orderkey")
        .orderBy("o_orderkey")
    }),
    "data_scd2_history" -> ((s, d) => {
      // SCD-2 dimension history from the event change log: per user,
      // consecutive same-type runs collapse into one row with
      // [valid_from, valid_to) and an is_current flag — the
      // keep-history dual of the SCD-1 merges; ONE key shuffle, both
      // window passes share the (ts, event_id)-pinned sort
      // (api.Maintenance.scd2History). valid_to NULL-free via the
      // empty-string sentinel (open interval), the NULL-cell-hashing
      // convention.
      graft.api.Maintenance.scd2History(
          Tables.events(s, d).select("user_id", "event_type", "ts", "event_id"),
          "user_id", "event_type", "ts", "event_id")
        .select(col("user_id"), col("state"),
          Canon.tsStrMicros(col("valid_from")).as("valid_from"),
          coalesce(Canon.tsStrMicros(col("valid_to")), lit("")).as("valid_to"),
          col("is_current"))
        .orderBy("user_id", "valid_from")
    }),
    "data_snapshot_diff" -> ((s, d) => {
      // version diff (api.Maintenance.snapshotDiff): old = the orders
      // snapshot, new = a deterministic next version (every 11th
      // repriced ×1.1 in exact DECIMAL = changed, every 17th dropped =
      // removed unless also repriced — the drop applies first, every
      // 19th mirrored at -k-1 = added; -k-1 not -k, the o_orderkey-0
      // rule from data_upsert_merge). One full-outer key shuffle,
      // null-safe column compare post-join; unchanged keys are absent
      // from the output, so the hash also proves no false diffs.
      val old = Tables.orders(s, d)
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      val priced = (col("o_totalprice").cast("decimal(18,2)")
        * lit(new java.math.BigDecimal("1.1"))).cast("double")
      val next = old.filter(col("o_orderkey") % 17 =!= 0)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          when(col("o_orderkey") % 11 === 0, priced)
            .otherwise(col("o_totalprice")).as("o_totalprice"))
        .unionByName(old.filter(col("o_orderkey") % 19 === 0)
          .select((-col("o_orderkey") - 1).as("o_orderkey"), col("o_custkey"),
            lit("A").as("o_orderstatus"), col("o_totalprice")))
      graft.api.Maintenance.snapshotDiff(old, next, "o_orderkey")
        .orderBy("o_orderkey")
    }),
    "scan_schema_evolution" -> ((s, d) => {
      // schema drift — the certainty of any table ingested for years:
      // generation 1 was written BEFORE a column existed (even orders,
      // 3 columns); generation 2 adds a derived o_year. The read-back
      // is one mergeSchema scan over both generations' directories
      // (batch=N in the path becomes a partition column, so each
      // generation stays prunable); gen-1 rows surface o_year as NULL
      // — never a schema error, never a dropped row. The aggregate
      // exercises exactly the drift semantics that matter: count(col)
      // skips the missing-column rows, sum(coalesce) folds them as 0.
      // Oracle recomputes both generations' contributions from the
      // flat orders table via the same even/odd split — a hash match
      // proves the evolved scan loses nothing and invents nothing.
      val ord = Tables.orders(s, d)
      val dir = graft.sources.Writers.roundTripDir("graft_schema_evo", d)
      ord.filter(col("o_orderkey") % 2 === 0)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .write.mode("overwrite").parquet(s"$dir/batch=1")
      ord.filter(col("o_orderkey") % 2 === 1)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
          year(col("o_orderdate")).cast("long").as("o_year"))
        .write.mode("overwrite").parquet(s"$dir/batch=2")
      s.read.option("mergeSchema", "true").parquet(dir)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          Canon.sumDec(col("o_totalprice"), 2).as("sum_total"),
          count(col("o_year")).as("n_with_year"),
          sum(coalesce(col("o_year"), lit(0L))).as("sum_year"))
        .orderBy("o_orderstatus")
    }),
    "scan_union_rowcounts" -> ((s, d) => {
      val names = Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings")
      names.map { n =>
        Tables.byName(s, d, n).agg(count(lit(1)).as("n"))
          .select(lit(n).as("tbl"), col("n"))
      }.reduce(_ unionByName _).orderBy("tbl")
    }),
    "data_kanonymity_report" -> ((s, d) => {
      // privacy audit the release gate reads before publishing a
      // derived table: k-anonymity of the (nation, segment,
      // acctbal-1000-band) quasi-identifier — for each candidate k,
      // how many identifier groups are smaller than k and what
      // fraction of ROWS sits in them (re-identification exposure).
      // One map-side-combined group-size aggregate over the corpus,
      // then the shared exposureSweep (k-sweep over the tiny |groups|
      // frame, integer ppm, pinned fan-out).
      exposureSweep(
        Tables.customer(s, d).groupBy(col("c_nationkey"),
            col("c_mktsegment"),
            expr("CAST(floor(c_acctbal / 1000) AS INT)").as("_band"))
          .agg(count(lit(1)).as("_sz")),
        metric = col("_sz"), sweep = Seq(2, 5, 20), sweepName = "k",
        lowName = "n_small_groups", rowsName = "rows_at_risk",
        ppmName = "risk_ppm")
    }),
    "scan_text_lines" -> ((s, d) => {
      // raw line-text ingest — the LAST source format the matrix was
      // missing (parquet/orc/csv/jsonl/partitioned/bucketed + text):
      // documents.text → one line per doc → read-back → per-first-
      // token aggregate. The oracle aggregates the PARQUET column
      // directly, so a hash match proves the text hop is lossless
      // (encoding, no line mangling). Single-line contract: the text
      // format carries no escaping (Writers.writeTextLines), which
      // the fixture's space-separated docs satisfy by construction.
      val docs = Tables.documents(s, d).select(col("text"))
      val tmp = graft.sources.Writers.roundTripDir("graft_text_docs", d)
      graft.sources.Writers.writeTextLines(docs, tmp)
      graft.sources.Readers.textLines(s, tmp)
        .groupBy(split(col("value"), " ").getItem(0).as("first_token"))
        .agg(count(lit(1)).as("n"),
          sum(length(col("value"))).as("total_chars"),
          countDistinct(col("value")).as("n_distinct"))
        .orderBy("first_token")
    }),
    "data_pseudonymize" -> ((s, d) => {
      // pseudonymization with a built-in audit — the GDPR-friendly
      // sibling of data_gdpr_delete: user ids become md5 tokens
      // (engine-portable keyed hashing; the repo's assignment idiom)
      // and the per-token activity rollup PROVES the two properties
      // that make pseudonymized analytics valid: joinability is
      // preserved (same token ⇔ same user: n_users = 1 per token —
      // a collision would surface as n_users > 1) and the activity
      // distribution is untouched (per-token counts = per-user
      // counts, pinned by the oracle hash). ONE hash aggregate.
      Tables.events(s, d)
        .select(md5(col("user_id").cast("string").cast("binary"))
            .as("token"),
          col("user_id"), col("event_type"))
        .groupBy("token")
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"),
          countDistinct(col("event_type")).as("n_types"))
        .orderBy("token")
    }),
    "data_ldiversity_report" -> ((s, d) => {
      // the l-diversity companion to data_kanonymity_report:
      // k-anonymity bounds group SIZE, but a big quasi-identifier
      // group whose sensitive attribute is uniform still leaks (you
      // know every member's value) — l-diversity requires ≥ l DISTINCT
      // sensitive values (source) per (lang, length-band) group. Same
      // scale shape as the k report via the shared exposureSweep
      // (exact distinct over the tiny per-group source set; l-sweep
      // over |groups|, integer ppm, pinned fan-out).
      exposureSweep(
        Tables.documents(s, d).groupBy(col("lang"),
            expr("CAST(floor(n_chars / 100) AS INT)").as("_band"))
          .agg(count(lit(1)).as("_sz"),
            countDistinct(col("source")).as("_l")),
        metric = col("_l"), sweep = Seq(2, 3, 5), sweepName = "l",
        lowName = "n_low_groups", rowsName = "rows_exposed",
        ppmName = "exposure_ppm")
    }),
    "data_referential_integrity" -> ((s, d) => {
      // cross-table FK audit: orphaned fact rows per declared foreign
      // key, against the CURATED dimension snapshot (acctbal ≥ 0 —
      // the partial-dimension-load failure every warehouse eventually
      // ships) plus one full-parent control edge. ONE pass per FK: a
      // left join against the distinct parent keys feeding a single
      // conditional aggregate — dimension-sized parents broadcast
      // (events/orders audits), the fact-to-fact edge (lineitem →
      // orders) shuffles and is AQE's call; at 100 TB swap the giant
      // parents behind SkewJoins.bloomSemiJoin (same counts, no full
      // parent shuffle). Orphan shares are integer ppm.
      def audit(nm: String, child: org.apache.spark.sql.DataFrame,
          key: String, parent: org.apache.spark.sql.DataFrame,
          pkey: String, bcast: Boolean) = {
        val pk0 = parent.select(col(pkey).cast("long").as("_pk")).distinct()
        val pk = if (bcast) broadcast(pk0) else pk0
        child.select(col(key).cast("long").as("_k"))
          .join(pk, col("_k") === col("_pk"), "left")
          .agg(count(lit(1)).as("n_child"),
            sum(when(col("_pk").isNull, 1L).otherwise(0L)).as("n_orphans"),
            countDistinct(when(col("_pk").isNull, col("_k")))
              .as("n_orphan_keys"))
          .select(lit(nm).as("fk"), col("n_child"), col("n_orphans"),
            col("n_orphan_keys"),
            expr("n_orphans * 1000000 div n_child").as("orphan_ppm"))
      }
      val custSnap = Tables.customer(s, d).filter(col("c_acctbal") >= 0)
      val suppSnap = Tables.supplier(s, d).filter(col("s_acctbal") >= 0)
      Seq(
        audit("orders.custkey->customer_snap", Tables.orders(s, d),
          "o_custkey", custSnap, "c_custkey", bcast = true),
        audit("events.user->customer_snap", Tables.events(s, d),
          "user_id", custSnap, "c_custkey", bcast = true),
        audit("lineitem.suppkey->supplier_snap", Tables.lineitem(s, d),
          "l_suppkey", suppSnap, "s_suppkey", bcast = true),
        audit("lineitem.orderkey->orders", Tables.lineitem(s, d),
          "l_orderkey", Tables.orders(s, d), "o_orderkey", bcast = false)
      ).reduce(_ unionByName _).orderBy("fk")
    }),
    "scan_csv_malformed_audit" -> ((s, d) => {
      // dirty-ingest robustness: orders serialized to CSV with every
      // (orderkey % 97 == 0)th row DELIBERATELY malformed (non-numeric
      // price), read back under PERMISSIVE mode with a corrupt-record
      // column — the badRecordsPath workflow every production CSV
      // ingest needs. The oracle aggregates the clean PARQUET under
      // the same modulus, so the hash match proves the permissive
      // parser isolated EXACTLY the malformed rows (no good row
      // dropped, no bad row leaked into the aggregate). Prices ride a
      // DECIMAL(18,2) string form — no float-to-text ambiguity.
      import org.apache.spark.sql.types._
      val dir = graft.sources.Writers.roundTripDir("graft_badcsv_orders", d)
      val key = col("o_orderkey")
      val priceStr = col("o_totalprice").cast(DecimalType(18, 2)).cast("string")
      Tables.orders(s, d)
        .select(when(key % 97 === 0,
            concat_ws(",", key, col("o_orderstatus"), lit("XX")))
          .otherwise(concat_ws(",", key, col("o_orderstatus"), priceStr))
          .as("value"))
        .write.mode("overwrite").text(dir)
      val schema = StructType(Seq(
        StructField("o_orderkey", LongType),
        StructField("o_orderstatus", StringType),
        StructField("o_totalprice", DoubleType),
        StructField("_corrupt", StringType)))
      // pin the PARSED frame: it fans into the good and corrupt
      // branches (§7.2), and Spark disallows corrupt-column-only
      // queries on a raw CSV scan (QUERY_ONLY_CORRUPT_RECORD_COLUMN)
      // — materializing the parse is the documented remedy
      val back = graft.api.Checkpoints.pin(s.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .csv(dir))
      val good = back.filter(col("_corrupt").isNull)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          Canon.sumDec(col("o_totalprice"), 2).as("sum_total"))
      val bad = back.filter(col("_corrupt").isNotNull)
        .agg(count(lit(1)).as("n"))
        .select(lit("_corrupt").as("o_orderstatus"), col("n"),
          lit(0.0).as("sum_total"))
      good.unionByName(bad).orderBy("o_orderstatus")
    })
  )

  val oracles: Map[String, String] = Map(
    "scan_parquet_project_filter" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_quantity, l_extendedprice
        |FROM lineitem
        |WHERE l_shipdate < TIMESTAMP '1996-01-01' AND l_quantity > 45
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "scan_events_nanos" ->
      """SELECT event_id, strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S.%f') AS ts_str,
        |       user_id, event_type, value, props
        |FROM events ORDER BY event_id""".stripMargin,
    "scan_partitioned_events" ->
      s"""SELECT event_type, count(*) AS n,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        |  ${O.sumDec("value", 2)} AS sum_val
        |FROM events WHERE event_type IN ('click', 'purchase')
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // aggregates the PARQUET lineitem directly — matching the Spark
    // side's CSV round-trip output proves the text hop is lossless
    "scan_csv_lineitem" ->
      s"""SELECT l_returnflag, count(*) AS n,
        |  sum(l_quantity) AS sum_qty,
        |  ${O.sumDec("l_extendedprice", 2)} AS sum_price,
        |  strftime(min(l_shipdate), '%Y-%m-%d %H:%M:%S') AS min_ship,
        |  strftime(max(l_shipdate), '%Y-%m-%d %H:%M:%S') AS max_ship
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // aggregates the PARQUET events directly — matching the Spark
    // side's JSONL round-trip output proves the JSON hop is lossless
    "scan_jsonl_events" ->
      s"""SELECT event_type, count(*) AS n,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        |  CAST(count(DISTINCT props) AS BIGINT) AS n_props,
        |  ${O.sumDec("value", 2)} AS sum_val,
        |  strftime(CAST(min(ts) AS TIMESTAMP), '%Y-%m-%d %H:%M:%S.%f') AS min_ts,
        |  strftime(CAST(max(ts) AS TIMESTAMP), '%Y-%m-%d %H:%M:%S.%f') AS max_ts
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // aggregates the PARQUET orders directly — matching the Spark
    // side's ORC round-trip output proves the columnar hop is lossless
    "scan_orc_orders" ->
      s"""SELECT o_orderstatus, count(*) AS n,
        |  CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_cust,
        |  ${O.sumDec("o_totalprice", 2)} AS sum_total,
        |  strftime(min(o_orderdate), '%Y-%m-%d %H:%M:%S') AS min_date,
        |  strftime(max(o_orderdate), '%Y-%m-%d %H:%M:%S') AS max_date
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    // joins the flat parquet tables — matching the Spark side's
    // bucketed-layout join proves the bucketed write loses nothing
    "scan_bucketed_join" ->
      s"""SELECT o_orderkey, o_orderpriority, count(*) AS n_items,
        |  sum(l_quantity) AS sum_qty,
        |  ${O.sumDec("l_extendedprice", 2)} AS sum_price
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_orderkey, o_orderpriority
        |ORDER BY o_orderkey""".stripMargin,
    // aggregates the flat PARQUET lineitem under the same predicate —
    // matching the Spark side's range-clustered rewrite proves the
    // clustering rewrite loses nothing
    "scan_clustered_minmax" ->
      s"""SELECT l_returnflag, count(*) AS n,
        |  sum(l_quantity) AS sum_qty,
        |  ${O.sumDec("l_extendedprice", 2)} AS sum_price
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1995-06-01'
        |  AND l_shipdate < TIMESTAMP '1995-07-01'
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // recomputes each snapshot's content from the flat orders table
    // with the same mod-4 group predicates — matching all three
    // version aggregates proves the manifest-pinned reads resolve to
    // exactly the committed file sets (v0/v1 unchanged by the later
    // delete commit = snapshot isolation; v2 missing group b = the
    // file-level delete)
    "data_snapshot_read" ->
      s"""WITH t AS (SELECT o_orderkey % 4 AS m, o_orderkey, o_totalprice
        |  FROM orders)
        |SELECT * FROM (
        |  SELECT CAST(0 AS BIGINT) AS version, count(*) AS n_rows,
        |    CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_keys,
        |    ${O.sumDec("o_totalprice", 2)} AS sum_price
        |  FROM t WHERE m IN (0, 1, 2)
        |  UNION ALL
        |  SELECT 1, count(*),
        |    CAST(count(DISTINCT o_orderkey) AS BIGINT),
        |    ${O.sumDec("o_totalprice", 2)} FROM t
        |  UNION ALL
        |  SELECT 2, count(*),
        |    CAST(count(DISTINCT o_orderkey) AS BIGINT),
        |    ${O.sumDec("o_totalprice", 2)} FROM t WHERE m IN (0, 1, 3))
        |ORDER BY version""".stripMargin,
    // the surviving v1 read after expiry+GC must carry the checksum
    // fold of the FULL orders table (GC deleted only unreferenced
    // bytes); exactly 1 manifest (v0) expires and exactly the 24
    // fragmented files (repartition(24), every partition non-empty at
    // every fixture scale) are collected
    "data_snapshot_expire" ->
      s"""WITH r AS (SELECT md5(
        |      CAST(o_orderkey AS VARCHAR) || '|' ||
        |      o_orderstatus || '|' ||
        |      CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR)) AS h
        |    FROM orders),
        |x AS (SELECT ${O.hex15ToLong("h")} AS hv
        |      FROM (SELECT CAST(substr(h, 1, 15) AS VARCHAR) AS h FROM r))
        |SELECT CAST(1 AS BIGINT) AS n_manifests_expired,
        |  CAST(24 AS BIGINT) AS n_files_gced,
        |  count(*) AS n_rows, bit_xor(hv) AS xor_checksum,
        |  CAST(sum(CAST(hv AS HUGEINT)) % 1152921504606846976 AS BIGINT)
        |    AS sum_checksum
        |FROM x""".stripMargin,
    // both snapshot versions (pre- and post-compaction) must carry the
    // checksum fold of the FULL orders selection — compaction is a
    // metadata rewrite, content-identical by contract
    "data_snapshot_compact" ->
      s"""WITH r AS (SELECT md5(
        |      CAST(o_orderkey AS VARCHAR) || '|' ||
        |      o_orderstatus || '|' ||
        |      CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR)) AS h
        |    FROM orders),
        |x AS (SELECT ${O.hex15ToLong("h")} AS hv
        |      FROM (SELECT CAST(substr(h, 1, 15) AS VARCHAR) AS h FROM r)),
        |a AS (SELECT count(*) AS n_rows, bit_xor(hv) AS xor_checksum,
        |        CAST(sum(CAST(hv AS HUGEINT)) % 1152921504606846976 AS BIGINT)
        |          AS sum_checksum
        |      FROM x)
        |SELECT CAST(v.version AS BIGINT) AS version,
        |  a.n_rows, a.xor_checksum, a.sum_checksum
        |FROM (VALUES (0), (1)) v(version) CROSS JOIN a
        |ORDER BY version""".stripMargin,
    // aggregates the PARQUET events directly — matching the Spark
    // side's fragmented→compacted round-trip proves compaction moved
    // every row exactly once
    "data_compact_small_files" ->
      s"""SELECT event_type, count(*) AS n,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        |  ${O.sumDec("value", 2)} AS sum_val,
        |  strftime(CAST(min(ts) AS TIMESTAMP), '%Y-%m-%d %H:%M:%S.%f') AS min_ts,
        |  strftime(CAST(max(ts) AS TIMESTAMP), '%Y-%m-%d %H:%M:%S.%f') AS max_ts
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // recomputes both halves from the flat table — matching the
    // rewritten-table audit proves the scrub deleted exactly the
    // request set; n_leaked = 0 is the completeness witness
    "data_gdpr_delete" ->
      """WITH t AS (SELECT event_type, user_id,
        |    substring(md5(CAST(user_id AS VARCHAR)), 1, 1) < '2' AS del FROM events)
        |SELECT event_type,
        |  count(CASE WHEN NOT del THEN 1 END) AS n_kept,
        |  CAST(count(DISTINCT CASE WHEN NOT del THEN user_id END) AS BIGINT) AS users_kept,
        |  count(CASE WHEN del THEN 1 END) AS n_deleted,
        |  CAST(count(DISTINCT CASE WHEN del THEN user_id END) AS BIGINT) AS users_deleted,
        |  CAST(0 AS BIGINT) AS n_leaked
        |FROM t GROUP BY 1 ORDER BY 1""".stripMargin,
    // flat-parquet twin of both z-layout probes — matching proves the
    // Morton rewrite moved every row exactly once
    "data_zorder_cluster" ->
      s"""SELECT probe, n, sum_qty, rev FROM (
        |  SELECT 'partkey' AS probe, count(*) AS n, sum(l_quantity) AS sum_qty,
        |    ${O.sumDec("l_extendedprice", 2)} AS rev
        |  FROM lineitem WHERE l_partkey <= 40
        |  UNION ALL
        |  SELECT 'suppkey', count(*), sum(l_quantity), ${O.sumDec("l_extendedprice", 2)}
        |  FROM lineitem WHERE l_suppkey <= 2)
        |ORDER BY probe""".stripMargin,
    // same full-outer + coalesce merge over the same deterministic
    // update batch — matching proves MERGE semantics row-for-row
    "data_upsert_merge" ->
      """WITH snap AS (SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
        |  FROM orders),
        |upd AS (
        |  SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2))
        |         * CAST(1.1 AS DECIMAL(2,1)) AS DOUBLE) AS o_totalprice
        |  FROM snap WHERE o_orderkey % 7 = 0
        |  UNION ALL
        |  SELECT -o_orderkey - 1, o_custkey, 'N', o_totalprice
        |  FROM snap WHERE o_orderkey % 13 = 0)
        |SELECT
        |  CASE WHEN u.o_orderkey IS NOT NULL THEN u.o_orderkey ELSE s.o_orderkey END AS o_orderkey,
        |  CASE WHEN u.o_orderkey IS NOT NULL THEN u.o_custkey ELSE s.o_custkey END AS o_custkey,
        |  CASE WHEN u.o_orderkey IS NOT NULL THEN u.o_orderstatus ELSE s.o_orderstatus END AS o_orderstatus,
        |  CASE WHEN u.o_orderkey IS NOT NULL THEN u.o_totalprice ELSE s.o_totalprice END AS o_totalprice,
        |  CASE WHEN s.o_orderkey IS NULL THEN 'insert'
        |       WHEN u.o_orderkey IS NULL THEN 'keep'
        |       ELSE 'update' END AS action
        |FROM snap s FULL OUTER JOIN upd u ON s.o_orderkey = u.o_orderkey
        |ORDER BY o_orderkey""".stripMargin,
    "data_scd2_history" ->
      """WITH o AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts, event_id,
        |    lag(event_type) OVER w AS prev,
        |    row_number() OVER w AS rn
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)),
        |ch AS (SELECT user_id, event_type, ts, event_id FROM o
        |  WHERE rn = 1 OR prev IS DISTINCT FROM event_type),
        |v AS (SELECT user_id, event_type, ts,
        |    lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS vt
        |  FROM ch)
        |SELECT user_id, event_type AS state,
        |  strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS valid_from,
        |  COALESCE(strftime(vt, '%Y-%m-%d %H:%M:%S.%f'), '') AS valid_to,
        |  CAST(vt IS NULL AS BIGINT) AS is_current
        |FROM v ORDER BY user_id, valid_from""".stripMargin,
    "data_snapshot_diff" ->
      """WITH o AS (SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
        |  FROM orders),
        |n AS (
        |  SELECT o_orderkey, o_custkey, o_orderstatus,
        |    CASE WHEN o_orderkey % 11 = 0 THEN
        |      CAST(CAST(o_totalprice AS DECIMAL(18,2))
        |           * CAST(1.1 AS DECIMAL(2,1)) AS DOUBLE)
        |    ELSE o_totalprice END AS o_totalprice
        |  FROM o WHERE o_orderkey % 17 <> 0
        |  UNION ALL
        |  SELECT -o_orderkey - 1, o_custkey, 'A', o_totalprice
        |  FROM o WHERE o_orderkey % 19 = 0)
        |SELECT * FROM (
        |  SELECT COALESCE(n.o_orderkey, o.o_orderkey) AS o_orderkey,
        |    CASE WHEN o.o_orderkey IS NULL THEN 'added'
        |         WHEN n.o_orderkey IS NULL THEN 'removed'
        |         WHEN NOT (o.o_custkey IS NOT DISTINCT FROM n.o_custkey
        |               AND o.o_orderstatus IS NOT DISTINCT FROM n.o_orderstatus
        |               AND o.o_totalprice IS NOT DISTINCT FROM n.o_totalprice)
        |           THEN 'changed' END AS change
        |  FROM o FULL OUTER JOIN n ON o.o_orderkey = n.o_orderkey)
        |WHERE change IS NOT NULL
        |ORDER BY o_orderkey""".stripMargin,
    // recomputes both generations' contributions from the flat orders
    // table — matching the mergeSchema scan proves drift-tolerant
    // read-back loses nothing and invents nothing
    "scan_schema_evolution" ->
      s"""SELECT o_orderstatus, count(*) AS n,
        |  ${O.sumDec("o_totalprice", 2)} AS sum_total,
        |  count(CASE WHEN o_orderkey % 2 = 1 THEN 1 END) AS n_with_year,
        |  CAST(sum(CASE WHEN o_orderkey % 2 = 1 THEN year(o_orderdate) ELSE 0 END) AS BIGINT) AS sum_year
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "scan_union_rowcounts" ->
      """SELECT 'region' AS tbl, count(*) AS n FROM region
        |UNION ALL SELECT 'nation', count(*) FROM nation
        |UNION ALL SELECT 'customer', count(*) FROM customer
        |UNION ALL SELECT 'supplier', count(*) FROM supplier
        |UNION ALL SELECT 'part', count(*) FROM part
        |UNION ALL SELECT 'orders', count(*) FROM orders
        |UNION ALL SELECT 'lineitem', count(*) FROM lineitem
        |UNION ALL SELECT 'events', count(*) FROM events
        |UNION ALL SELECT 'documents', count(*) FROM documents
        |UNION ALL SELECT 'embeddings', count(*) FROM embeddings
        |ORDER BY tbl""".stripMargin,
    "data_kanonymity_report" ->
      """WITH g AS (SELECT c_nationkey, c_mktsegment,
        |    CAST(floor(c_acctbal / 1000) AS INT) AS band, count(*) AS sz
        |  FROM customer GROUP BY 1, 2, 3),
        |t AS (SELECT CAST(sum(sz) AS BIGINT) AS n, count(*) AS gn FROM g),
        |x AS (SELECT k, sz, n, gn
        |  FROM g CROSS JOIN t CROSS JOIN (SELECT unnest([2,5,20]) AS k)),
        |a AS (SELECT k, max(gn) AS n_groups,
        |    CAST(sum(CASE WHEN sz < k THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_small_groups,
        |    CAST(sum(CASE WHEN sz < k THEN sz ELSE 0 END) AS BIGINT)
        |      AS rows_at_risk,
        |    max(n) AS nn
        |  FROM x GROUP BY 1)
        |SELECT k, n_groups, n_small_groups, rows_at_risk,
        |  rows_at_risk * 1000000 // nn AS risk_ppm
        |FROM a ORDER BY k""".stripMargin,
    "data_pseudonymize" ->
      """SELECT md5(CAST(user_id AS VARCHAR)) AS token,
        |  count(*) AS n_events,
        |  count(DISTINCT user_id) AS n_users,
        |  count(DISTINCT event_type) AS n_types
        |FROM events GROUP BY 1 ORDER BY token""".stripMargin,
    // aggregates the parquet column directly — a hash match proves the
    // Spark side's text round-trip was lossless
    "scan_text_lines" ->
      """SELECT string_split(text, ' ')[1] AS first_token, count(*) AS n,
        |  CAST(sum(length(text)) AS BIGINT) AS total_chars,
        |  count(DISTINCT text) AS n_distinct
        |FROM documents GROUP BY 1 ORDER BY first_token""".stripMargin,
    "data_ldiversity_report" ->
      """WITH g AS (SELECT lang, CAST(floor(n_chars / 100) AS INT) AS band,
        |    count(*) AS sz, count(DISTINCT source) AS dl
        |  FROM documents GROUP BY 1, 2),
        |t AS (SELECT CAST(sum(sz) AS BIGINT) AS n, count(*) AS gn FROM g),
        |x AS (SELECT l, sz, dl, n, gn
        |  FROM g CROSS JOIN t CROSS JOIN (SELECT unnest([2,3,5]) AS l)),
        |a AS (SELECT l, max(gn) AS n_groups,
        |    CAST(sum(CASE WHEN dl < l THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_low_groups,
        |    CAST(sum(CASE WHEN dl < l THEN sz ELSE 0 END) AS BIGINT)
        |      AS rows_exposed,
        |    max(n) AS nn
        |  FROM x GROUP BY 1)
        |SELECT l, n_groups, n_low_groups, rows_exposed,
        |  rows_exposed * 1000000 // nn AS exposure_ppm
        |FROM a ORDER BY l""".stripMargin,
    "data_referential_integrity" -> {
      def one(nm: String, childTbl: String, key: String,
          parentSql: String) =
        s"""SELECT '$nm' AS fk, count(*) AS n_child,
           |  CAST(sum(CASE WHEN p._pk IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_orphans,
           |  count(DISTINCT CASE WHEN p._pk IS NULL THEN c._k END)
           |    AS n_orphan_keys,
           |  CAST(sum(CASE WHEN p._pk IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           |    * 1000000 // count(*) AS orphan_ppm
           |FROM (SELECT CAST($key AS BIGINT) AS _k FROM $childTbl) c
           |LEFT JOIN (SELECT DISTINCT $parentSql) p
           |  ON c._k = p._pk""".stripMargin
      Seq(
        one("orders.custkey->customer_snap", "orders", "o_custkey",
          "CAST(c_custkey AS BIGINT) AS _pk FROM customer WHERE c_acctbal >= 0"),
        one("events.user->customer_snap", "events", "user_id",
          "CAST(c_custkey AS BIGINT) AS _pk FROM customer WHERE c_acctbal >= 0"),
        one("lineitem.suppkey->supplier_snap", "lineitem", "l_suppkey",
          "CAST(s_suppkey AS BIGINT) AS _pk FROM supplier WHERE s_acctbal >= 0"),
        one("lineitem.orderkey->orders", "lineitem", "l_orderkey",
          "CAST(o_orderkey AS BIGINT) AS _pk FROM orders")
      ).mkString("", "\nUNION ALL\n", "\nORDER BY fk")
    },
    "scan_csv_malformed_audit" ->
      s"""WITH src AS (SELECT o_orderkey AS k, o_orderstatus AS st,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS tp FROM orders)
        |SELECT st AS o_orderstatus, count(*) AS n,
        |  CAST(sum(tp) AS DOUBLE) AS sum_total
        |FROM src WHERE k % 97 <> 0 GROUP BY 1
        |UNION ALL
        |SELECT '_corrupt', count(*), 0.0 FROM src WHERE k % 97 = 0
        |ORDER BY o_orderstatus""".stripMargin
  )
}
