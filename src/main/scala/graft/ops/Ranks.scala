package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.catalyst.expressions.GenericRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType, StructField, StructType}

/** Exact ranks, running sums and leads — global or per group — WITHOUT
  * a single-partition sort: the range-partitioned hatch the ops-layer
  * scaladocs reference (`Mixing.scala` mega-stratum note). A
  * `row_number()/sum()/lead() OVER (ORDER BY …)` window forces every row
  * through ONE partition (and `PARTITION BY` puts each mega-group on one
  * task) — fine for audit-sized frames, a straggler at fact scale.
  *
  * Every entry point runs the same core, [[prefix]]:
  *
  *   1. `repartitionByRange` on (groupCols ++ sortCols) — each partition
  *      holds a contiguous key range, so each group is contiguous across
  *      the ordered partitions — then a partition-local sort;
  *   2. `__mid = monotonically_increasing_id()` (= pid << 33 | local
  *      index), frozen by ONE lazy `localCheckpoint` that the partials
  *      job and the apply share;
  *   3. ONE partials aggregate per (pid, group…): row count, max local
  *      index (checks the id bit layout), column sums, the first lead
  *      value — collected and scanned in range order into
  *      exclusive per-(pid, group) offsets and next-boundary values;
  *   4. the apply: one streaming partition walk seeded with those
  *      offsets (a prefix sum is a sequential recurrence with O(1)
  *      state — no window, no second exchange, no re-sort), or, for the
  *      rank-only global forms, the codegen'd column
  *      `offset(pid) + local index + 1` over the frozen `__mid`.
  * [[runningMaxByValue]] shares steps 1–3 and walks tie groups instead.
  *
  * Contracts:
  *   - (groupCols ++ sortCols) must be a TOTAL order (append the id
  *     column as the final tie-break — ties split across a range
  *     boundary would otherwise rank nondeterministically; the
  *     cumulative-window call sites feed DISTINCT value tables, where
  *     the value itself is total). Then the results are EXACT for any
  *     partitioning.
  *   - The partials collect is ≤ #groups + #partitions − 1 rows: use the
  *     grouped forms for mega-strata (≲ thousands of groups), and plain
  *     `Window.partitionBy` for many small groups, where Spark already
  *     distributes fine and this collect would be group-scaled.
  *   - Sums add nulls as 0, as SQL `sum` does. LongType sums throw on
  *     overflow, as ANSI `sum` does; DecimalType sums accumulate exact
  *     BigDecimals into the window-sum result type decimal(min(38, p+10), s).
  *   - Output names, like the internal `__mid`/`__val`, must be free in
  *     the input: a clash fails loudly instead of duplicating or
  *     silently replacing the caller's column.
  *
  * The partition id rides IN THE DATA (`__mid >> 33`, frozen by the
  * checkpoint), never `TaskContext.getPartitionId`: the stage partition
  * id only equals the RDD partition index when the stage STARTS at this
  * scan — under a union/except the walk's stage renumbers partitions
  * and a TaskContext-keyed lookup would seed every partition with its
  * neighbor's offsets.
  *
  * Storage: the checkpoint blocks release via the ContextCleaner when
  * the frame is GC'd — one-shot query use. A caller invoking this in a
  * LOOP should release eagerly after its consuming action: the returned
  * plan contains the checkpoint scan, so
  * `Dedup.unpersistCheckpoint(returnedFrame)` drops the blocks. */
object Ranks {

  /** Returns `df` plus a 1-based LongType global row number `rnCol`
    * under the total order `sortCols`. */
  def withRowNumber(df: DataFrame, rnCol: String,
      sortCols: Column*): DataFrame =
    prefix(df, Nil, sortCols, Nil, None, Some(rnCol)).df

  /** `ntile(nBuckets) OVER (ORDER BY sortCols)` without the
    * single-partition window: the bucket derives from the exact rank
    * and the TOTAL row count the rank pass already collected — no extra
    * action, no extra pass. */
  def withNtile(df: DataFrame, bucketCol: String, nBuckets: Int,
      sortCols: Column*): DataFrame = {
    // the rank is staged under the bucket's name, then replaced in place
    val r = prefix(df, Nil, sortCols, Nil, None, Some(bucketCol))
    r.df.withColumn(bucketCol, ntileFromRank(col(bucketCol), r.rows, nBuckets))
  }

  /** `ntile(n)` bucket (1-based) derived from an exact global rank over
    * `nRows` total rows — identical to SQL NTILE semantics: the first
    * `nRows % n` buckets take ⌈nRows/n⌉ rows, the rest ⌊nRows/n⌋. Pure
    * integer expression over the [[withRowNumber]] output — no window. */
  def ntileFromRank(rn: Column, nRows: Long, n: Int): Column = {
    require(n >= 1 && nRows >= 0, "need n >= 1, nRows >= 0")
    val q = nRows / n
    val r = nRows % n
    val cut = r * (q + 1)
    if (q == 0) rn.cast("long") // fewer rows than buckets: bucket = rank
    else when(rn <= cut, floor((rn - 1) / (q + 1)).cast("long") + 1L)
      .otherwise(lit(r) + floor((rn - cut - 1) / q).cast("long") + 1L)
  }

  /** Result of [[runningSums]]: the decorated frame plus the grand
    * totals and row count the partials job already computed — a caller
    * that would otherwise run a global aggregate + crossJoin just to
    * decorate rows with Σ reads them as literals instead (one fewer
    * pass over the value table). */
  final case class Running(df: DataFrame, totals: Map[String, Long],
      rows: Long)

  /** Distributed INCLUSIVE prefix sums under the total order
    * `sortCols`: for each `(in, out)` in `sums`, adds LongType `out` =
    * `sum(in) OVER (ORDER BY sortCols ROWS UNBOUNDED PRECEDING)`. `lead`
    * optionally emits the NEXT row's value of a column under the same
    * order (`(src, out)`); the globally last row gets NULL, as `lead()`
    * would. `sums` inputs must be LongType. */
  def runningSums(df: DataFrame, sums: Seq[(String, String)],
      lead: Option[(String, String)], sortCols: Column*): Running =
    runningLongSums(df, sums, lead, None, sortCols)

  /** [[runningSums]] that ALSO emits the 1-based LongType global row
    * number `rnCol` under the same order — the per-partition row counts
    * are already in the partials collect, so rank + cumulative + totals
    * all come out of ONE exchange (the rank/cumsum-over-vocab shape). */
  def runningSumsRanked(df: DataFrame, sums: Seq[(String, String)],
      lead: Option[(String, String)], rnCol: String,
      sortCols: Column*): Running =
    runningLongSums(df, sums, lead, Some(rnCol), sortCols)

  private def runningLongSums(df: DataFrame, sums: Seq[(String, String)],
      lead: Option[(String, String)], rnCol: Option[String],
      sortCols: Seq[Column]): Running = {
    requireSums(df, sums, "runningSums", decimal = false)
    val p = prefix(df, Nil, sortCols, sums, lead, rnCol)
    Running(p.df, sums.map(_._1).zip(p.totals.map(_.asInstanceOf[Long])).toMap,
      p.rows)
  }

  /** Result of [[runningDecimalSums]]: the decorated frame plus the
    * exact grand totals and row count from the partials job. */
  final case class RunningDec(df: DataFrame,
      totals: Map[String, java.math.BigDecimal], rows: Long)

  /** [[runningSums]] for EXACT DecimalType columns (revenue-style
    * cumulative shares: ABC/Pareto/elbow curves over entity tables),
    * with unbounded BigDecimal accumulators, so the running values are
    * exact for any data size (only the OUTPUT column caps at Spark's
    * decimal(38) — the same cap the window form has). `rnCol`, when
    * set, ALSO emits the 1-based LongType global row number under the
    * same order (the elbow/Pareto shape needs rank + cumulative +
    * totals + count, all from one exchange). */
  def runningDecimalSums(df: DataFrame, sums: Seq[(String, String)],
      rnCol: Option[String], sortCols: Column*): RunningDec = {
    requireSums(df, sums, "runningDecimalSums", decimal = true)
    val p = prefix(df, Nil, sortCols, sums, None, rnCol)
    RunningDec(p.df, sums.map(_._1)
      .zip(p.totals.map(_.asInstanceOf[java.math.BigDecimal])).toMap, p.rows)
  }

  /** PER-GROUP inclusive prefix sums — `sum(in) OVER (PARTITION BY
    * groupCols ORDER BY sortCols ROWS UNBOUNDED PRECEDING)` — for the
    * FEW-HUGE-GROUPS regime where `Window.partitionBy` itself is the
    * straggler (one mega-stratum lands on one task: the documented
    * `Mixing` escape-hatch class). LongType sums. */
  def runningSumsBy(df: DataFrame, groupCols: Seq[String],
      sums: Seq[(String, String)], sortCols: Column*): DataFrame = {
    requireGroups(groupCols, "runningSums")
    requireSums(df, sums, "runningSumsBy", decimal = false)
    prefix(df, groupCols, sortCols, sums, None, None).df
  }

  /** PER-GROUP 1-based LongType row number — the grouped twin of
    * [[withRowNumber]] for the few-huge-groups regime (per-stratum
    * rank/quota cuts), so no group ever lands on one task. */
  def withRowNumberBy(df: DataFrame, groupCols: Seq[String],
      rnCol: String, sortCols: Column*): DataFrame = {
    requireGroups(groupCols, "withRowNumber")
    prefix(df, groupCols, sortCols, Nil, None, Some(rnCol)).df
  }

  /** [[runningSumsBy]] for EXACT DecimalType columns — the grouped twin
    * of [[runningDecimalSums]] (revenue/weight cumulatives per stratum:
    * the weighted-median class). */
  def runningDecimalSumsBy(df: DataFrame, groupCols: Seq[String],
      sums: Seq[(String, String)], sortCols: Column*): DataFrame = {
    requireGroups(groupCols, "runningDecimalSums")
    requireSums(df, sums, "runningDecimalSumsBy", decimal = true)
    prefix(df, groupCols, sortCols, sums, None, None).df
  }

  /** PER-GROUP lead — `lead(src) OVER (PARTITION BY groupCols ORDER BY
    * sortCols)` for the few-huge-groups regime: adds `out` = the NEXT
    * row's value of `src` under the group-local order, NULL on each
    * group's last row. A partition-boundary row's lead comes from the
    * collected FIRST `src` value of the next partition that still holds
    * its group; a group ending mid-partition is globally finished
    * (contiguity), so its last row gets NULL with no lookup. */
  def runningLeadBy(df: DataFrame, groupCols: Seq[String],
      lead: (String, String), sortCols: Column*): DataFrame = {
    requireGroups(groupCols, "runningSums' lead")
    prefix(df, groupCols, sortCols, Nil, Some(lead), None).df
  }

  /** Distributed RANGE-frame running maxima by VALUE: adds
    * `outLt` = `max(in) OVER (ORDER BY valueCol RANGE BETWEEN UNBOUNDED
    * PRECEDING AND 1 PRECEDING)` (max over rows with a strictly smaller
    * value) and `outLe` = the same frame ending AT CURRENT ROW (the
    * whole tie group included, as RANGE semantics demand). Equal values
    * always land in ONE range partition (the range partitioner splits
    * BETWEEN key values); the partials are per-partition maxima, and the
    * walk buffers ONE value group (tie run) at a time — the same working
    * set any RANGE-frame engine needs. `in` must be LongType; SQL max
    * semantics (nulls skipped, NULL result for an empty/all-null frame).
    * `valueCol` must be integral for the `1 PRECEDING` reading of
    * "strictly smaller". */
  def runningMaxByValue(df: DataFrame, in: String, outLt: String,
      outLe: String, valueCol: Column): DataFrame = {
    require(df.schema(in).dataType == LongType,
      s"runningMaxByValue needs a LongType input; '$in' is " +
        df.schema(in).dataType.simpleString)
    // a fractional value would silently truncate into the wrong tie group
    val vType = df.select(valueCol).schema.head.dataType
    require(Seq("byte", "short", "int", "integer", "long", "bigint")
        .contains(vType.simpleString),
      s"runningMaxByValue needs an integral value column, got " +
        vType.simpleString)
    val (parted, partials) = sortedPartials(df, Seq("__val", outLt, outLe),
      Nil, Seq(valueCol), Seq(max(col(in))), Seq("__val" -> valueCol.cast("long")))
    // exclusive prefix max per partition (range partitions are ordered)
    val maxBefore = partials.scanLeft(Option.empty[Long])((run, p) =>
      (run ++ Option(p.vals(0)).map(_.asInstanceOf[Long])).maxOption)
    val bOff = df.sparkSession.sparkContext.broadcast(
      partials.map(_.pid).zip(maxBefore).toMap)
    val schema = parted.schema
    val mi = schema.fieldIndex("__mid")
    val vi = schema.fieldIndex("__val")
    val ii = schema.fieldIndex(in)
    val outSchema = StructType(schema.fields.take(mi) ++ Seq(
      StructField(outLt, LongType, nullable = true),
      StructField(outLe, LongType, nullable = true)))
    parted.mapPartitions { it =>
      val buf = it.buffered
      var before: Option[Long] = None
      if (buf.hasNext) before = bOff.value(buf.head.getLong(mi) >>> 33)
      // emit one TIE GROUP at a time: every row of the group shares
      // maxLt (= max before the group) and maxLe (= before + group max)
      new Iterator[Seq[Row]] {
        override def hasNext: Boolean = buf.hasNext
        override def next(): Seq[Row] = {
          val v = buf.head.getLong(vi)
          val group = scala.collection.mutable.ArrayBuffer.empty[Row]
          while (buf.hasNext && buf.head.getLong(vi) == v) group += buf.next()
          val lt = before
          before = (before ++ group.filterNot(_.isNullAt(ii))
            .map(_.getLong(ii))).maxOption
          group.map(r => Row.fromSeq(r.toSeq.take(mi) ++
            Seq(lt.orNull, before.orNull))).toSeq
        }
      }.flatten
    }(Encoders.row(outSchema))
  }

  private def requireGroups(groupCols: Seq[String], global: String): Unit =
    require(groupCols.nonEmpty,
      s"need at least one group column (use $global for the global form)")

  private def requireSums(df: DataFrame, sums: Seq[(String, String)],
      fn: String, decimal: Boolean): Unit = {
    require(sums.nonEmpty, "need at least one sum column")
    val want = if (decimal) "DecimalType" else "LongType"
    sums.foreach { case (in, _) =>
      val t = df.schema(in).dataType
      require(if (decimal) t.isInstanceOf[DecimalType] else t == LongType,
        s"$fn sums $want columns; '$in' is ${t.simpleString}")
    }
  }

  /** One partials row: range partition `pid`, group `key` (Nil for the
    * global forms), its row count and max local index, and the caller's
    * aggregates in order. */
  private final case class Partial(pid: Long, key: List[Any], rows: Long,
      maxLocal: Long, vals: IndexedSeq[Any])

  private def localOf: Column = col("__mid").bitwiseAND(lit((1L << 33) - 1))

  /** Steps 1–3 of the header: the range-sorted, checkpointed frame
    * (input columns, `__mid`, then `staged`) and its per-(pid, group)
    * partials sorted by pid. `names` are the caller's output and staging
    * names, which must be free in `df`. */
  private def sortedPartials(df: DataFrame, names: Seq[String],
      groupCols: Seq[String], sortCols: Seq[Column], aggs: Seq[Column],
      staged: Seq[(String, Column)] = Nil): (DataFrame, Seq[Partial]) = {
    require(sortCols.nonEmpty, "need at least one sort column")
    val resolver = df.sparkSession.sessionState.conf.resolver
    ("__mid" +: names).foreach(n => require(!df.columns.exists(resolver(_, n)),
      s"Ranks: input already has a column named '$n' (an output or " +
        "internal staging name) — rename it before calling"))
    val nPart = df.sparkSession.sessionState.conf.numShufflePartitions
    val keyCols = groupCols.map(col) ++ sortCols
    val parted = df.repartitionByRange(nPart, keyCols: _*)
      .sortWithinPartitions(keyCols: _*)
      .select((col("*") +: monotonically_increasing_id().as("__mid") +:
        staged.map { case (n, c) => c.as(n) }): _*)
      .localCheckpoint(false) // consumers: the partials job + the apply
    val nGrp = groupCols.length
    val aggCols = Seq(count(lit(1)), max(localOf)) ++ aggs
    val partials = parted
      .groupBy((shiftright(col("__mid"), 33) +: groupCols.map(col)): _*)
      .agg(aggCols.head, aggCols.tail: _*)
      .collect()
      .map(r => Partial(r.getLong(0), List.tabulate(nGrp)(i => r.get(1 + i)),
        r.getLong(1 + nGrp), r.getLong(2 + nGrp),
        (3 + nGrp until r.length).map(r.get)))
      .sortBy(_.pid).toSeq
    // the walk and the rank derive from monotonically_increasing_id's
    // documented (pid << 33 | local index) layout; a partition past 2^33
    // rows (or a layout drift) would mis-attribute rows ACROSS pids,
    // which this equality catches (the spillover lands in the next pid
    // with colliding local indices) — fail loudly instead of misranking
    partials.groupBy(_.pid).foreach { case (p, ps) =>
      val c = ps.map(_.rows).sum
      val ml = ps.map(_.maxLocal).max
      require(ml == c - 1,
        s"Ranks: partition $p has count=$c but max local index=$ml — " +
          "monotonically_increasing_id bit-layout invariant violated " +
          "(partition exceeded 2^33 rows?)")
    }
    (parted, partials)
  }

  /** `a + b` for one running column: exact for decimals, `addExact`
    * for longs (overflow throws, as ANSI `sum` does); null adds 0. */
  private def plus(a: Any, b: Any): Any = b match {
    case null => a
    case d: java.math.BigDecimal => a.asInstanceOf[java.math.BigDecimal].add(d)
    case l: Long => Math.addExact(a.asInstanceOf[Long], l)
  }

  /** Where one walk run (a group's rows in one partition) starts: the
    * exclusive sums and row count of the group's earlier partitions, and
    * the first lead value of its next partition (null if none). */
  private final case class Seed(sums: Array[Any], rows: Long, next: Any)

  private final case class Prefix(df: DataFrame, totals: Seq[Any], rows: Long)

  /** The one core behind every prefix form: `df` plus, per group and
    * under (groupCols ++ sortCols), the inclusive running `sums` (Long
    * or exact BigDecimal, following each input's type), the `lead`
    * column and the 1-based row number `rnCol`, in that column order;
    * with the grand totals of `sums` and the row count. */
  private def prefix(df: DataFrame, groupCols: Seq[String],
      sortCols: Seq[Column], sums: Seq[(String, String)],
      lead: Option[(String, String)], rnCol: Option[String]): Prefix = {
    val (parted, partials) = sortedPartials(df,
      sums.map(_._2) ++ lead.map(_._2) ++ rnCol, groupCols, sortCols,
      sums.map { case (in, _) => sum(col(in)) } ++
        lead.map { case (src, _) => min_by(col(src), col("__mid")) })
    val zero: Array[Any] = sums.map { case (in, _) =>
      df.schema(in).dataType match {
        case d: DecimalType => java.math.BigDecimal.ZERO.setScale(d.scale)
        case _ => 0L
      }
    }.toArray
    val totals = sums.indices.map(k =>
      partials.foldLeft(zero(k))((a, p) => plus(a, p.vals(k))))
    val rows = partials.foldLeft(0L)((a, p) => Math.addExact(a, p.rows))
    val out = if (groupCols.isEmpty && sums.isEmpty && lead.isEmpty) {
      // rank only: a codegen'd column, no Row deserialization
      val off = new Array[Long](partials.lastOption.fold(0)(_.pid.toInt + 1))
      partials.foldLeft(0L) { (a, p) => off(p.pid.toInt) = a; a + p.rows }
      val rank = typedLit(off.toSeq)
        .getItem(shiftright(col("__mid"), 33).cast("int")) + localOf + 1L
      parted.withColumn(rnCol.get, rank).drop("__mid")
    } else walk(parted, groupCols, sums, lead, rnCol, partials, zero)
    Prefix(out, totals, rows)
  }

  /** Step 4 of the header for everything but the rank-only global
    * forms: seed each (pid, group) run from the partials scan, then one
    * streaming walk per partition. */
  private def walk(parted: DataFrame, groupCols: Seq[String],
      sums: Seq[(String, String)], lead: Option[(String, String)],
      rnCol: Option[String], partials: Seq[Partial],
      zero: Array[Any]): DataFrame = {
    // exclusive offsets per (pid, group): scan each group's partitions
    // in range order (partials are pid-sorted; groupBy keeps that order)
    val nSums = sums.length
    val seeds = partials.groupBy(_.key).toSeq.flatMap { case (g, ps) =>
      val acc = zero.clone()
      var seen = 0L
      ps.indices.map { i =>
        val next = if (lead.isDefined && i + 1 < ps.length) ps(i + 1).vals(nSums)
          else null
        val seed = (ps(i).pid, g) -> Seed(acc.clone(), seen, next)
        for (k <- 0 until nSums) acc(k) = plus(acc(k), ps(i).vals(k))
        seen = Math.addExact(seen, ps(i).rows)
        seed
      }
    }.toMap
    val bSeeds = parted.sparkSession.sparkContext.broadcast(seeds)
    val schema = parted.schema
    val mi = schema.fieldIndex("__mid")
    val outSchema = StructType(schema.fields.take(mi) ++
      sums.map { case (in, o) =>
        val t = schema(in).dataType match {
          // the window-sum result type
          case d: DecimalType => DecimalType(math.min(38, d.precision + 10), d.scale)
          case t => t
        }
        StructField(o, t, nullable = false)
      } ++
      lead.map { case (src, o) =>
        StructField(o, schema(src).dataType, nullable = true) } ++
      rnCol.map(StructField(_, LongType, nullable = false)))
    val si = sums.map { case (in, _) => schema.fieldIndex(in) }.toArray
    val gi = groupCols.map(schema.fieldIndex).toArray
    val li = lead.fold(-1) { case (src, _) => schema.fieldIndex(src) }
    val wantRn = rnCol.isDefined
    val width = outSchema.length
    parted.mapPartitions { it =>
      val buf = it.buffered
      def keyOf(r: Row): List[Any] = List.tabulate(gi.length)(i => r.get(gi(i)))
      var key: List[Any] = null
      var seed: Seed = null
      var acc: Array[Any] = null
      var rn = 0L
      buf.map { r =>
        // rows arrive group-contiguous (the local sort leads with the
        // group key): one live accumulator, reseeded per group run
        val k = keyOf(r)
        if (key == null || k != key) {
          key = k
          seed = bSeeds.value((r.getLong(mi) >>> 33, k))
          acc = seed.sums.clone()
          rn = seed.rows
        }
        // the input columns (all before __mid), then the outputs
        val o = new Array[Any](width)
        var j = 0
        while (j < mi) { o(j) = r.get(j); j += 1 }
        j = 0
        while (j < si.length) {
          acc(j) = plus(acc(j), r.get(si(j)))
          o(mi + j) = acc(j)
          j += 1
        }
        if (li >= 0) o(mi + si.length) =
          if (!buf.hasNext) seed.next
          else if (keyOf(buf.head) == k) buf.head.get(li)
          else null
        rn += 1
        if (wantRn) o(width - 1) = rn
        new GenericRow(o): Row
      }
    }(Encoders.row(outSchema))
  }
}
