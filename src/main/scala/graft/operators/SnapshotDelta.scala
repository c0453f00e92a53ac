package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Snapshot-diff ("delta") operators — the analytical core of the reference
  * pipeline (reference: agency-delta.go:126-246). Given two full snapshots of
  * a keyed table (the reference keys `Agency_Data` on `pid` and snapshots
  * weekly into `importdate` partitions), compute:
  *
  *  - '''updated''': rows whose key exists in both snapshots but at least one
  *    compared attribute changed (reference "change" query,
  *    agency-delta.go:126-201 — inner self-join on the key + OR-disjunction
  *    of 33 column inequalities).
  *  - '''added''': rows whose key is new in the newest snapshot (reference
  *    "new" query, agency-delta.go:203-246 — written there as
  *    LEFT JOIN + IS NULL; as literally written it returns 0 rows, see
  *    SURVEY.md §2.2 R4 — we implement the documented intent as an
  *    anti-join).
  *  - '''removed''': the symmetric complement (not in the reference; natural
  *    extension).
  *
  * All operators are pure `DataFrame => DataFrame` — no I/O — so Catalyst
  * sees one declarative plan: partition-pruned scans on each side, a single
  * shuffle on the key (or none, if both snapshots are bucketed by the key),
  * and the change predicate evaluated inside whole-stage codegen.
  *
  * Scale notes (100 TB): the join is an equi-join on the snapshot key, so
  * Spark plans a sort-merge join with both sides hash-partitioned by key;
  * AQE handles skewed keys. Because each side is exactly one `importdate`
  * partition, partition pruning keeps the scan at 1/N of the table. For a
  * standing deployment, bucket both snapshots by the key to eliminate the
  * shuffle entirely.
  */
object SnapshotDelta {

  /** NULL semantics of the change predicate (SURVEY.md §2.2 R3). */
  sealed trait ChangeMode
  /** Athena/ANSI parity: `a != b` is three-valued, so NULL→value and
    * value→NULL transitions are NOT detected (reference behavior,
    * agency-delta.go:168-200).
    */
  case object Legacy extends ChangeMode
  /** Null-safe: `NOT (a <=> b)` — NULL transitions count as changes. */
  case object NullSafe extends ChangeMode

  /** OR-disjunction of per-column inequalities between two sides of a
    * self-join (reference: agency-delta.go:168-200).
    */
  def changePredicate(attrs: Seq[String], leftAlias: String,
                      rightAlias: String, mode: ChangeMode): Column = {
    require(attrs.nonEmpty, "change predicate needs at least one attribute")
    attrs.map { c =>
      val l = col(s"$leftAlias.$c")
      val r = col(s"$rightAlias.$c")
      mode match {
        case Legacy   => l =!= r
        case NullSafe => !(l <=> r)
      }
    }.reduce(_ || _)
  }

  /** Per-row xxhash64 over the compared attrs — the unchanged-row fast
    * path of [[updated]] and the steering join of [[deltas]]. Each
    * column is hashed as an (IS NULL, value) pair: Spark's hash fold
    * SKIPS null fields (the running hash passes through), so without
    * the marker, rows differing only in which column holds a NULL —
    * ("x", NULL) vs (NULL, "x") — would collide and the change would
    * be missed; the never-null marker makes every column advance the
    * fold, leaving only the generic ~2^-64 collision risk.
    */
  private def rowHash(attrs: Seq[String]): Column =
    xxhash64(struct(attrs.flatMap(c => Seq(col(c).isNull, col(c))): _*))

  /** Rows present in both snapshots (matched on `key`) where any attribute in
    * `attrs` differs; result carries the newest-side columns, like the
    * reference SELECT list (agency-delta.go:127-160).
    */
  def updated(newest: DataFrame, previous: DataFrame, key: String,
              attrs: Seq[String], mode: ChangeMode = Legacy): DataFrame = {
    // Unchanged-row fast path (both modes): the row hash, computed ONCE
    // per input row during the scan (not per joined pair), dismisses the
    // dominant unchanged rows with a single long compare — the wide
    // 33-way disjunction then runs only on hash-differing pairs, where
    // it both confirms the change exactly (no false positives from the
    // hash) and keeps the predicate the source of truth. The dismissal
    // is mode-agnostic: hash-equal rows are attribute-identical, and an
    // identical pair satisfies neither `a <=> b` negated (NullSafe) nor
    // any `a != b` (Legacy — `x != x` is false, `NULL != NULL` is NULL;
    // either way the row is filtered), so Legacy's exact three-valued
    // parity with agency-delta.go:168-200 is preserved on every pair
    // the predicate actually sees.
    val h = rowHash(attrs)
    val n = newest.withColumn("_graft_rowhash", h).alias("n")
    val p = previous.withColumn("_graft_rowhash", h).alias("p")
    n.join(p, col(s"n.$key") === col(s"p.$key"), "inner")
      .where(col("n._graft_rowhash") =!= col("p._graft_rowhash") &&
        changePredicate(attrs, "n", "p", mode))
      .select(newest.columns.toIndexedSeq.map(c => col(s"n.$c")): _*)
  }

  /** The two weekly deltas from one steering pass, and how they were
    * planned. `narrow` is false when the steering pass found more keys
    * than its budget and the plain plans were returned. The key counts
    * are exact on the narrow path; on the wide path they are counted
    * among the first `budget + 1` keys found, so they are lower bounds.
    */
  final case class Deltas(updated: DataFrame, added: DataFrame,
                          narrow: Boolean, changedKeys: Long,
                          addedKeys: Long)

  /** UPDATED and ADDED, steered by one classifying pass instead of one
    * plan per output. The plain formulations shuffle every compared
    * column of both sides through [[updated]]'s join (at 10x fixture
    * scale: two ~750 MB full-width exchanges plus ~1.1 GB of sort spill,
    * the 73 s cliff in SCALING.md sweep H), and [[added]] reads
    * `previous` once more for its anti-join.
    *
    * The steering pass joins `newest(key, rowhash)` LEFT OUTER to
    * `previous(key, rowhash)` (a few dozen bytes per row cross the
    * shuffle) and classifies each newest key as ''changed'' (a matched
    * pair's hashes differ) or ''added'' (no match). A key is never both:
    * every row of a key present in `previous` finds a match. NULL keys
    * match nothing, so a NULL-key row of `newest` is added, as under
    * [[added]]'s anti-join. The keys of both kinds are collected to the
    * driver when this is called, at most `budget + 1` of them, the
    * budget being the session's `autoBroadcastJoinThreshold` at a
    * conservative 64 bytes per key. The returned plans carry them as
    * broadcast local relations, so nothing is cached and nothing needs
    * releasing.
    *
    *  - UPDATED: both sides are semi-joined to the changed keys, and the
    *    cut `previous` side is broadcast to the final pair join, so no
    *    wide row crosses a shuffle. The broadcast holds `previous`'s rows
    *    of at most `budget` keys (times their duplicates): at the default
    *    10 MiB threshold, 163,840 keys of a ~300-byte Agency_Data row are
    *    ~49 MB in the driver and in each executor. The pair filter and
    *    the change predicate re-run on the rejoined pairs, so rows,
    *    multiplicity under duplicate keys, Legacy's three-valued
    *    semantics and column order are those of [[updated]]; rows come
    *    in `newest`'s scan order.
    *  - ADDED: `newest` semi-joined, null-safe, to the added keys;
    *    `previous` is not read again.
    *
    * Past the budget (bulk re-key, full refresh: the key lists grow with
    * the table, and broadcasting them would exhaust the driver) this
    * returns [[updated]]'s plain wide join and [[added]]'s anti-join,
    * which are the right plans when most rows changed. Bucketed
    * snapshots should keep [[updated]]: their join has no exchange to
    * factor out.
    */
  def deltas(newest: DataFrame, previous: DataFrame, key: String,
             attrs: Seq[String], mode: ChangeMode = Legacy): Deltas = {
    // the narrow join: key + 8-byte hash per side, nothing else crosses
    // the wire. It is HINTED a sort-merge join: a broadcast of the
    // previous side would finish that side's scan before the newest
    // side's could start, while a shuffle join runs both scans at once.
    // Distinct because a key with several rows must appear once in the
    // steering lists; the join's key partitioning already serves it.
    val h = rowHash(attrs)
    val steering = newest.select(col(key).as("ck"), h.as("nh"))
      .join(previous.select(col(key).as("pk"), h.as("ph")).hint("merge"),
        col("ck") === col("pk"), "left_outer")
      .where(col("pk").isNull || col("nh") =!= col("ph"))
      .select(col("ck"), col("pk").isNull.as("added"))
      .distinct()
    val t = newest.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    val budget = if (t <= 0) 160000L else math.max(1L, t / 64L)
    val keys = steering.limit(math.min(budget + 1, Int.MaxValue).toInt)
      .collect()
    val (fresh, changed) = keys.partition(_.getBoolean(1))
    if (keys.length > budget)
      return Deltas(updated(newest, previous, key, attrs, mode),
        added(newest, previous, key), narrow = false,
        changed.length, fresh.length)
    // the key lists are HINTED broadcast, and so is the cut previous
    // side: size estimation cannot see that the semi-joined sides are
    // change-rate sized, so an unhinted plan may shuffle them in full
    // (the budget above has proven the lists fit)
    def semi(df: DataFrame, ks: Array[Row]): DataFrame = {
      val list = broadcast(newest.sparkSession.createDataFrame(
        java.util.Arrays.asList(ks.map(r => Row(r.get(0))): _*),
        StructType(steering.schema.take(1))))
      df.join(list, df(key) <=> list("ck"), "left_semi")
    }
    Deltas(
      updated(semi(newest, changed), broadcast(semi(previous, changed)),
        key, attrs, mode),
      semi(newest, fresh), narrow = true, changed.length, fresh.length)
  }

  /** [[deltas]]' UPDATED: the changed-key steered [[updated]], or its
    * plain wide join past the key budget.
    */
  def updatedNarrow(newest: DataFrame, previous: DataFrame, key: String,
                    attrs: Seq[String],
                    mode: ChangeMode = Legacy): DataFrame =
    deltas(newest, previous, key, attrs, mode).updated

  /** Rows whose key appears only in the newest snapshot — the documented
    * intent of the reference "new" query (Readme.md:13, "record didn't
    * exists in previous"). Anti-join: no row payload needed from the
    * previous side, so Spark can plan a broadcast/shuffled hash anti-join
    * over just the key column (column pruning drops the other 33).
    */
  def added(newest: DataFrame, previous: DataFrame, key: String): DataFrame =
    newest.join(previous.select(key), Seq(key), "left_anti")

  /** Rows whose key disappeared in the newest snapshot (extension). */
  def removed(newest: DataFrame, previous: DataFrame, key: String): DataFrame =
    previous.join(newest.select(key), Seq(key), "left_anti")

  /** Bug-compatible literal mode of the reference "new" query
    * (agency-delta.go:239-245): the LEFT JOIN lacks the partition filter in
    * the ON clause and then filters `n2.importdate = previous` in WHERE,
    * which collapses the outer join and makes `n2.pid IS NULL`
    * unsatisfiable — the query provably returns 0 rows. Kept for oracle
    * diffing; schema matches `added`.
    */
  def addedLiteral(newest: DataFrame): DataFrame =
    newest.where(lit(false))

  /** SCD2 (slowly-changing-dimension type 2) history build from two
    * snapshots — the delta family's natural extension: instead of
    * emitting change SETS (updated/added/removed), emit the versioned
    * history table a warehouse keeps. Per key:
    *
    *  - unchanged:      one `current` row, valid since `prevDate`
    *  - changed:        a `closed` row (old attrs, prevDate→newDate) AND
    *                    a `current` row (new attrs, since newDate)
    *  - added:          one `current` row since newDate
    *  - removed:        one `closed` row (prevDate→newDate)
    *
    * One FULL OUTER join on the key, then each joined row explodes into
    * its 1-2 output rows via an array of structs — single pass, no second
    * scan, no union of two joins. Change detection is null-safe (NULL
    * transitions open a new version — SCD2 semantics, not the reference's
    * 3-valued quirk). Scale shape: identical to `updated` (one equi-join
    * shuffle, prunable snapshot scans) plus a narrow explode.
    */
  def scd2(newest: DataFrame, previous: DataFrame, key: String,
           attrs: Seq[String], prevDate: String, newDate: String): DataFrame = {
    val n = newest.alias("n")
    val p = previous.alias("p")
    val cols = key +: attrs
    val changed = changePredicate(attrs, "n", "p", NullSafe)
    val inBoth = col(s"n.$key").isNotNull && col(s"p.$key").isNotNull
    val addedRow = col(s"p.$key").isNull
    val removedRow = col(s"n.$key").isNull
    def side(a: String) = struct(
      cols.map(c => col(s"$a.$c").as(c)) :+
        lit(if (a == "n") newDate else prevDate).as("valid_from") :+
        (if (a == "n") lit(null).cast("string").as("valid_to")
         else lit(newDate).as("valid_to")) :+
        lit(if (a == "n") "current" else "closed").as("status"): _*)
    // unchanged rows carry the ORIGINAL validity start (prevDate) — the
    // version is still the one opened in the previous snapshot
    def unchangedRow = struct(
      cols.map(c => col(s"n.$c").as(c)) :+
        lit(prevDate).as("valid_from") :+
        lit(null).cast("string").as("valid_to") :+
        lit("current").as("status"): _*)
    val versions =
      when(inBoth && changed, array(side("p"), side("n")))
        .when(inBoth && !changed, array(unchangedRow))
        .when(addedRow, array(side("n")))
        .when(removedRow, array(side("p")))
    n.join(p, col(s"n.$key") === col(s"p.$key"), "full_outer")
      .select(explode(versions).as("v"))
      .select(col("v.*"))
  }

  /** MERGE/upsert: apply the three change sets to the previous snapshot
    * — delete removed keys, replace updated rows, insert added rows —
    * reconstructing the newest snapshot exactly. This is the operation
    * the reference's delta CONSUMERS run (the CSVs exist to be merged
    * into a downstream store); implementing it closes the loop and
    * makes the change sets self-validating: merge(prev, deltas) must
    * equal newest, row for row.
    *
    * Shape: one anti-join (drop updated∪removed keys from prev — both
    * key sets in ONE broadcast-able side) + a union of the update and
    * insert sets. No full-outer join, no window: at 100 TB the deltas
    * are a fraction of the snapshot, so the dominant cost is the single
    * pass over `previous`.
    */
  def mergeUpsert(previous: DataFrame, updated: DataFrame, added: DataFrame,
                  removed: DataFrame, key: String): DataFrame = {
    val replacedKeys = updated.select(key).unionByName(removed.select(key))
    previous.join(replacedKeys, Seq(key), "left_anti")
      .unionByName(updated)
      .unionByName(added)
  }

  /** Top-2 partition-value selection (reference: GetDeltaPartitions,
    * agency-delta.go:97-124 — list, `sort.Strings`, take last two; error if
    * fewer than 2). Lexicographic max ≡ chronological for ISO dates.
    * Metadata-scale only (weekly partitions), so a driver-side sort mirrors
    * the reference exactly.
    */
  def partitionPair(values: Seq[String]): (String, String) = {
    val sorted = values.distinct.sorted
    if (sorted.size < 2)
      throw new IllegalStateException("Not enough partitions to run delta")
    (sorted(sorted.size - 1), sorted(sorted.size - 2))
  }
}
