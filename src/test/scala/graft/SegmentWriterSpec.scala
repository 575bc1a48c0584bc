package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.engine.Tables
import graft.sources.{DenormView, SegmentWriter}

class SegmentWriterSpec extends SparkSpec {

  test("sorted, partitioned segments round-trip and prune on read") {
    val out = tempDir("segments")
    val li = Tables.lineitem(spark, sfDir)
      .withColumn("ship_year", year(col("l_shipdate")))
    SegmentWriter.write(li, out, SegmentWriter.Config(
      partitionCols = Seq("ship_year"),
      sortCols = Seq("l_partkey"),
      bloomFilterCols = Seq("l_partkey")))

    val back = spark.read.parquet(out)
    assert(back.count() === li.count())

    // partition pruning: filter on the partition column only lists that dir
    val pruned = back.filter(col("ship_year") === 1996)
    val prunedPlan = pruned.queryExecution.executedPlan.toString
    assert(prunedPlan.contains("PartitionFilters: [isnotnull(ship_year"), prunedPlan)
    assert(pruned.count() ===
      li.filter(year(col("l_shipdate")) === 1996).count())

    // sorted column filter is pushed down (row-group min/max skipping)
    val point = back.filter(col("l_partkey") === 42)
    val pointPlan = point.queryExecution.executedPlan.toString
    assert(pointPlan.contains("PushedFilters: [IsNotNull(l_partkey), EqualTo(l_partkey,42)"), pointPlan)
  }

  test("z-ordered layout keeps per-file min/max tight on BOTH columns") {
    val zOut = tempDir("zorder")
    val sortOut = tempDir("plainsort")
    val li = Tables.lineitem(spark, sfDir)
      .select("l_orderkey", "l_partkey", "l_quantity")
    // z-order on (orderkey, partkey) vs plain sort on orderkey only
    SegmentWriter.writeZOrdered(li, zOut, "l_orderkey", "l_partkey", numSegments = 8)
    SegmentWriter.write(li.repartitionByRange(8, col("l_orderkey")), sortOut,
      SegmentWriter.Config(sortCols = Seq("l_orderkey")))

    def avgRange(path: String, c: String): Double = {
      val rows = spark.read.parquet(path)
        .select(input_file_name().as("f"), col(c).cast("double").as("v"))
        .groupBy("f").agg((max("v") - min("v")).as("r"))
        .collect()
      rows.map(_.getDouble(1)).sum / rows.length
    }
    val full = li.agg(
      (max("l_partkey") - min("l_partkey")).cast("double"),
      (max("l_orderkey") - min("l_orderkey")).cast("double")).head()
    val (fullPart, fullOrder) = (full.getDouble(0), full.getDouble(1))

    // plain orderkey-sort: every file spans ~the whole partkey range, so a
    // partkey filter can never skip a file on stats
    assert(avgRange(sortOut, "l_partkey") > 0.9 * fullPart)
    // z-order: each file covers a small (orderkey, partkey) rectangle —
    // BOTH columns' stats stay tight, so range filters on EITHER prune
    assert(avgRange(zOut, "l_partkey") < 0.7 * fullPart)
    assert(avgRange(zOut, "l_orderkey") < 0.7 * fullOrder)

    // layout never changes results
    val a = spark.read.parquet(zOut).filter(col("l_partkey") < 50)
      .agg(sum("l_quantity").cast("long"), count(lit(1))).head()
    val b = li.filter(col("l_partkey") < 50)
      .agg(sum("l_quantity").cast("long"), count(lit(1))).head()
    assert(a === b)
  }

  test("segment manifest prunes files on BOTH z-ordered columns, never results") {
    import graft.sources.SegmentCatalog
    val out = tempDir("manifest")
    val li = Tables.lineitem(spark, sfDir)
      .select("l_orderkey", "l_partkey", "l_quantity")
    SegmentWriter.writeZOrdered(li, out, "l_orderkey", "l_partkey", numSegments = 8)
    SegmentCatalog.build(spark, out, Seq("l_orderkey", "l_partkey"))

    val total = spark.read.parquet(out).select(input_file_name())
      .distinct().count()
    val Row(pLo: Long, pHi: Long) = li
      .agg(min("l_partkey").cast("long"), max("l_partkey").cast("long")).head()
    val Row(oLo: Long, oHi: Long) = li
      .agg(min("l_orderkey").cast("long"), max("l_orderkey").cast("long")).head()

    // a narrow range on EITHER z-ordered column skips files via the
    // manifest (plain parquet would open every footer)
    val narrowP = (pLo, pLo + (pHi - pLo) / 10)
    val narrowO = (oLo, oLo + (oHi - oLo) / 10)
    assert(SegmentCatalog.candidateFiles(spark, out, "l_partkey",
      narrowP._1, narrowP._2).size < total)
    assert(SegmentCatalog.candidateFiles(spark, out, "l_orderkey",
      narrowO._1, narrowO._2).size < total)

    // pruning is invisible to results
    val got = SegmentCatalog.prunedRead(spark, out, "l_partkey",
        narrowP._1, narrowP._2)
      .agg(sum("l_quantity").cast("long"), count(lit(1))).head()
    val want = li.filter(col("l_partkey").between(narrowP._1, narrowP._2))
      .agg(sum("l_quantity").cast("long"), count(lit(1))).head()
    assert(got === want)

    // an out-of-range request prunes everything and still returns the schema
    val none = SegmentCatalog.prunedRead(spark, out, "l_partkey", pHi + 10, pHi + 20)
    assert(none.count() === 0)
    assert(none.columns.toSeq === Seq("l_orderkey", "l_partkey", "l_quantity"))
  }

  test("manifest prunedRead over a Hive-partitioned dir keeps partition columns and rows") {
    import graft.sources.SegmentCatalog
    val out = tempDir("manifest_part")
    val ord = Tables.orders(spark, sfDir)
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
    ord.write.mode("overwrite").partitionBy("o_orderstatus").parquet(out)
    SegmentCatalog.build(spark, out, Seq("o_custkey"))

    val Row(cLo: Long, cHi: Long) = ord
      .agg(min("o_custkey").cast("long"), max("o_custkey").cast("long")).head()
    val narrow = (cLo, cLo + (cHi - cLo) / 10)

    // the partition column survives the explicit-file-list scan (basePath)
    val got = SegmentCatalog.prunedRead(spark, out, "o_custkey", narrow._1, narrow._2)
    assert(got.columns.contains("o_orderstatus"), got.columns.mkString(","))

    // per-partition-value rollup equals the direct filtered read
    def rollup(df: org.apache.spark.sql.DataFrame) = df
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"), sum("o_orderkey").cast("long").as("s"))
      .collect().map(r => (r.getString(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(rollup(got) ===
      rollup(ord.filter(col("o_custkey").between(narrow._1, narrow._2))))

    // stale manifest + new partition dir: rows appear (unpruned), never lost
    val extra = ord.filter(col("o_orderkey") % 97 === 0)
    extra.withColumn("o_orderstatus", lit("Z"))
      .write.mode("append").partitionBy("o_orderstatus").parquet(out)
    val after = SegmentCatalog.prunedRead(spark, out, "o_custkey", cLo, cHi)
    assert(after.filter(col("o_orderstatus") === "Z").count() === extra.count())
  }

  test("interleaveBits is the exact Morton order") {
    val df = spark.range(0, 64).select(
      (col("id") / 8).cast("long").as("a"), (col("id") % 8).cast("long").as("b"))
    val got = df.select(col("a"), col("b"),
        SegmentWriter.interleaveBits(col("a"), col("b"), 3).as("z"))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    def morton(a: Long, b: Long): Long =
      (0 until 3).foldLeft(0L) { (acc, i) =>
        acc | (((a >> i) & 1L) << (2 * i)) | (((b >> i) & 1L) << (2 * i + 1))
      }
    for (a <- 0L until 8L; b <- 0L until 8L)
      assert(got((a, b)) === morton(a, b), s"($a, $b)")
  }

  test("bucketed tables join with no exchange on either side") {
    SegmentWriter.writeBucketed(
      Tables.orders(spark, sfDir), "b_orders", "o_orderkey", 8,
      sortCols = Seq("o_orderkey"))
    SegmentWriter.writeBucketed(
      Tables.lineitem(spark, sfDir), "b_lineitem", "l_orderkey", 8,
      sortCols = Seq("l_orderkey"))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force the fact-fact path
    try {
      val joined = spark.table("b_lineitem")
        .join(spark.table("b_orders"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("cnt"))
      // co-located: the only Exchange in the whole plan is the post-join
      // group-by shuffle — the join itself moves NEITHER fact table.
      val plan = joined.queryExecution.executedPlan.toString
      val nExchanges = "Exchange".r.findAllMatchIn(plan).length
      assert(nExchanges <= 1, s"bucketed join still exchanges:\n$plan")
      // and the answer matches the unbucketed join
      val direct = Tables.lineitem(spark, sfDir)
        .join(Tables.orders(spark, sfDir), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderstatus").agg(count(lit(1)).as("cnt"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val got = joined.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got === direct)
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_lineitem")
    }
  }

  test("bucketed distinct-count never shuffles raw rows (partitioned-distinct analog)") {
    // Pinot's SEGMENT_PARTITIONED_DISTINCT_COUNT: when data is partitioned
    // by the counted column, each segment counts its own distincts and the
    // merge is a sum of small partials. Spark analog: on a table bucketed
    // by the column, the per-key HashAggregate runs scan-local — the only
    // Exchange left carries the already-distinct keys to the final count.
    SegmentWriter.writeBucketed(
      Tables.orders(spark, sfDir), "b_orders_dc", "o_custkey", 8)
    try {
      val bucketed = spark.table("b_orders_dc")
        .agg(countDistinct(col("o_custkey")).as("nd"))
      val plan = bucketed.queryExecution.executedPlan.toString
      // plain table: Exchange(custkey) for the distinct + Exchange(single)
      // for the final count; bucketed: only the final single-partition one
      val nExchanges = "Exchange".r.findAllMatchIn(plan).length
      assert(nExchanges <= 1, s"bucketed distinct still shuffles raw rows:\n$plan")
      val direct = Tables.orders(spark, sfDir)
        .agg(countDistinct(col("o_custkey"))).head().getLong(0)
      assert(bucketed.head().getLong(0) === direct)
    } finally spark.sql("DROP TABLE IF EXISTS b_orders_dc")
  }

  test("derived timestamp-index columns materialize and answer DATETRUNC filters") {
    val out = tempDir("segments_ts")
    val li = Tables.lineitem(spark, sfDir)
    SegmentWriter.write(li, out, SegmentWriter.Config(
      derivedTimeCols = Seq("l_shipdate" -> "month")))
    val back = spark.read.parquet(out)
    val monthCol = SegmentWriter.derivedName("l_shipdate", "month")
    assert(back.columns.contains(monthCol))
    // the stored column equals on-the-fly truncation, and the filter on it
    // pushes down to the scan (Pinot's timestamp-index fast path)
    val viaDerived = back.filter(col(monthCol) === to_timestamp(lit("1996-03-01")))
    val plan = viaDerived.queryExecution.executedPlan.toString
    assert(plan.contains(s"EqualTo($monthCol,"), plan)
    assert(viaDerived.count() ===
      li.filter(date_trunc("month", col("l_shipdate")) === to_timestamp(lit("1996-03-01"))).count())
  }

  test("compaction merges micro-batch-sized files into few sorted segments") {
    val src = tempDir("segments_small")
    val dest = tempDir("segments_compacted")
    // simulate a streaming sink: many tiny files (one per "micro-batch")
    Tables.orders(spark, sfDir).repartition(40)
      .write.mode("overwrite").parquet(src)
    val stats = SegmentWriter.compact(spark, src, dest, SegmentWriter.Config(
      numSegments = 4, sortCols = Seq("o_orderkey")))
    assert(stats.filesBefore >= 40)
    assert(stats.filesAfter <= 4)
    assert(stats.rows === Tables.orders(spark, sfDir).count())
    // compacted data answers the same query
    val a = spark.read.parquet(dest).groupBy("o_orderstatus").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val b = Tables.orders(spark, sfDir).groupBy("o_orderstatus").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(a === b)
  }

  test("retention drops only the expired time partitions, without a rewrite") {
    val out = tempDir("segments_retention")
    val li = Tables.lineitem(spark, sfDir)
    SegmentWriter.write(li, out, SegmentWriter.Config(
      partitionCols = Seq(SegmentWriter.derivedName("l_shipdate", "year")),
      derivedTimeCols = Seq(("l_shipdate", "year"))))
    val years = li.select(year(col("l_shipdate"))).distinct()
      .collect().map(_.getInt(0)).sorted
    assert(years.length > 2, s"fixture needs multiple ship years: ${years.toSeq}")
    val cutoffYear = years(years.length - 2) // keep the last two years
    val stats = SegmentWriter.applyRetention(
      spark, out, SegmentWriter.derivedName("l_shipdate", "year"),
      cutoff = s"$cutoffYear-01-01 00:00:00")
    assert(stats.partitionsDropped === years.length - 2)
    assert(stats.partitionsKept === 2L)
    assert(stats.filesDropped > 0)
    // surviving data is exactly the un-expired rows; no rewrite happened
    val back = spark.read.parquet(out)
    assert(back.count() ===
      li.filter(year(col("l_shipdate")) >= cutoffYear).count())
    assert(back.agg(min(year(col("l_shipdate_year")))).head.getInt(0) === cutoffYear)
  }

  test("merge-rollup coarsens old partitions and preserves sum/count/avg exactly") {
    val src = tempDir("segments_rollup_src")
    val dest = tempDir("segments_rollup_dest")
    val ev = Tables.events(spark, sfDir)
      .select(col("event_type"), col("ts"), col("value"))
    SegmentWriter.write(ev, src, SegmentWriter.Config(
      partitionCols = Seq(SegmentWriter.derivedName("ts", "week")),
      derivedTimeCols = Seq(("ts", "week"))))
    val partCol = SegmentWriter.derivedName("ts", "week")
    // derive cutoff via SQL cast — Row.toString on a timestamp appends
    // ".0", which sorts differently than the engine-side CAST AS STRING
    val weeks = spark.read.parquet(src)
      .selectExpr(s"CAST(`$partCol` AS STRING)").distinct()
      .collect().map(_.getString(0)).sorted
    assert(weeks.length > 2, s"fixture needs multiple weeks: ${weeks.toSeq}")
    val cutoff = weeks(weeks.length - 1) // roll up all but the last week

    val stats = SegmentWriter.mergeRollup(
      spark, src, dest, partCol, cutoff,
      timeCol = "ts", granularity = "day",
      dims = Seq("event_type"), sumMetrics = Seq("value"))
    assert(stats.partitionsRolledUp === weeks.length - 1)
    assert(stats.rowsAfter < stats.rowsBefore,
      "daily rollup over hour-dense events must shrink the old slice")

    val back = spark.read.parquet(dest)
    // aggregate contract: per-type sum/count/avg over the union match raw
    val got = back.groupBy("event_type")
      .agg(sum("value").as("s"), sum("rollup_count").as("n"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getLong(2))).toMap
    val raw = ev.groupBy("event_type")
      .agg(sum("value").as("s"), count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getLong(2))).toMap
    assert(got.keySet === raw.keySet)
    got.foreach { case (k, (s, n)) =>
      assert(n === raw(k)._2, s"count drifted for $k")
      assert(math.abs(s - raw(k)._1) < 1e-6, s"sum drifted for $k")
    }
    // the recent partition stays raw (one row per event, count 1)
    val recent = back.filter(col(partCol).cast("string") >= cutoff)
    assert(recent.agg(max("rollup_count")).head.getLong(0) === 1L)
    assert(recent.count() ===
      spark.read.parquet(src).filter(col(partCol).cast("string") >= cutoff).count())
    // rolled rows collapsed to day buckets: every old-ts is day-truncated
    val old = back.filter(col(partCol).cast("string") < cutoff)
    assert(old.filter(col("ts") =!= date_trunc("day", col("ts"))).count() === 0L)
  }

  test("scanStats reports files touched after partition pruning (numSegmentsQueried analog)") {
    val out = tempDir("segments_stats")
    val li = Tables.lineitem(spark, sfDir).withColumn("ship_year", year(col("l_shipdate")))
    SegmentWriter.write(li, out, SegmentWriter.Config(partitionCols = Seq("ship_year")))
    val back = spark.read.parquet(out)
    val all = graft.engine.Graft.scanStats(back)
    val pruned = graft.engine.Graft.scanStats(back.filter(col("ship_year") === 1996))
    assert(all.nonEmpty && pruned.nonEmpty)
    assert(all.head.filesRead > pruned.head.filesRead,
      s"pruning did not reduce files: ${all.head} vs ${pruned.head}")
    assert(pruned.head.bytesRead < all.head.bytesRead)
  }

  test("denormalized view refreshes O(batch): incremental build equals the full join") {
    import org.apache.spark.sql.functions.col
    val dim = Tables.nation(spark, sfDir)
      .select(col("n_nationkey").as("c_nationkey"), col("n_name"))
    val cust = Tables.customer(spark, sfDir)
    val base = cust.filter(col("c_custkey") % 5 =!= 0)
    val batch = cust.filter(col("c_custkey") % 5 === 0)
    val path = tempDir("denorm") + "/view"
    DenormView.materialize(base, dim, "c_nationkey", path)
    val filesAfterBuild = new java.io.File(path)
      .listFiles().count(_.getName.endsWith(".parquet"))
    DenormView.refreshIncremental(spark, path, batch, dim, "c_nationkey")

    // parity: incremental view ≡ the one-shot full join
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("c_custkey", "c_name", "n_name").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(canon(DenormView.read(spark, path)) ===
      canon(cust.join(dim, "c_nationkey")))

    // the refresh APPENDED files — it did not rewrite the existing view
    val filesAfterRefresh = new java.io.File(path)
      .listFiles().count(_.getName.endsWith(".parquet"))
    assert(filesAfterRefresh > filesAfterBuild,
      "refresh rewrote the view instead of appending")

    // queries join nothing at read time: the plan is a pure scan
    val plan = DenormView.read(spark, path)
      .filter(col("n_name") === "CHINA").queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), plan)
  }
}
