package graft.dedup

import graft.text.TextOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** User-facing deduplication operators for a training-data pipeline:
  * exact, MinHash+LSH, SimHash, n-gram Jaccard — each parameterized by
  * (id column, text column) so they run over any document table. The
  * driver-contract queries in graft.queries.DedupQueries are thin
  * wrappers over these with pinned parameters (and DuckDB oracles).
  *
  * Physical notes are at each operator; none performs a cross join.
  */
object Dedup {

  /** distinct token n-gram shingles of a text column. The n-gram
    * expression reads the token array 2n+1 times and Catalyst does not
    * eliminate common subexpressions inside higher-order functions, so
    * the tokens are bound once as a lambda variable,
    * `transform(array(tokens), toks => ...)[1]`: the regexp tokenizer
    * runs once per row.
    */
  def shingles(text: Column, n: Int = 2): Column =
    element_at(transform(array(TextOps.tokens(text)),
      toks => array_distinct(TextOps.tokenNgrams(toks, n))), 1)

  /** Exact dedup: canonical id = min id among byte-identical texts
    * (reference: URL dedup, documents_dataset.py:71-83).
    */
  def exactCanonical(df: DataFrame, id: String, text: String): DataFrame = {
    val w = Window.partitionBy(md5(col(text).cast("binary")))
    df.select(col(id), min(col(id)).over(w).as("canon_id"))
  }

  /** MinHash signatures over shingles: permutation k = lexical min of
    * md5("k:" ++ shingle). Explode + agg-min keeps each md5 computed
    * once inside codegen (NumHashes nested array transforms re-expand
    * the shingle tree quadratically — measured 10x slower).
    *
    * Emits one row per distinct id INCLUDING documents with no shingles
    * (< shingleN tokens): their h0..h{n-1} are NULL, matching DuckDB's
    * `list_aggregate(empty, 'min')` — so short/empty docs don't silently
    * vanish from the signature table. `explode_outer` keeps such a doc
    * as one NULL-gram row (a plain explode would also let Catalyst infer
    * a `size(shingles) > 0` filter and push a second tokenizer copy
    * under the exchange); a null id keeps NULL signatures too.
    */
  def minhashSignatures(
      df: DataFrame, id: String, text: String,
      numHashes: Int, shingleN: Int = 2): DataFrame = {
    // spread BEFORE the shingle projection: the numHashes md5s per
    // exploded gram are the operator's dominant CPU and would otherwise
    // run at the scan's parallelism (ONE task on a one-file corpus —
    // guide §2.5); the id-hash partitioning is then REUSED by the
    // signature groupBy (guide §2.4), so the plan gains no additional
    // exchange
    graft.plans.Spread.ensure(df, col(id))
      .select(col(id), explode_outer(when(col(id).isNotNull,
        shingles(col(text), shingleN))).as("g"))
      .groupBy(col(id)).agg(
        min(md5(concat(lit("0:"), col("g")).cast("binary"))).as("h0"),
        (1 until numHashes).map(k => min(md5(
          concat(lit(s"$k:"), col("g")).cast("binary"))).as(s"h$k")): _*)
  }

  /** LSH banding over signatures -> candidate pairs + estimated
    * similarity (fraction of agreeing components). Equi-join on band
    * key; signatures materialized once for the three plan branches.
    *
    * Degenerate-bucket salting: a band bucket holding B near-identical
    * documents (boilerplate corpora) emits B^2/2 pairs inside ONE join
    * key — a single reducer task at cluster scale. Buckets larger than
    * `saltBucketBound` are split into `saltFactor` salt cells by
    * pmod(xxhash64(id), S); the A side replicates each row to keys
    * (band, salt, j) for all j and the B side to (band, i, salt) for
    * all i, so every (u, v) salt-cell combination is joined exactly
    * once across S^2 independent keys of ~(B/S)^2 output each. Small
    * buckets keep salt = 0 with no replication, so the default-path
    * plan (and result) is unchanged; pair-set equality with the
    * unsalted join is asserted in DedupSpec.
    */
  def lshCandidatePairs(
      df: DataFrame, id: String, text: String,
      numHashes: Int, bandRows: Int, shingleN: Int = 2,
      saltBucketBound: Int = 4096, saltFactor: Int = 8,
      cut: graft.plans.LineageCut = graft.plans.LineageCut.Default)
      : DataFrame = {
    val sig = cut.cut(minhashSignatures(df, id, text, numHashes, shingleN)
      // no-shingle docs carry NULL signatures (see minhashSignatures);
      // they have no estimable similarity and concat_ws would otherwise
      // collapse them all into one degenerate band bucket
      .filter(col("h0").isNotNull))
    // the checkpointed signature frame inherits the post-aggregation
    // partitioning, which AQE coalesces to ~1 partition at bench scale;
    // the band explode + candidate join emission then runs in ONE task.
    // Spread it back out (no-op when the agg output is already wide).
    val sigS = graft.plans.Spread.ensure(sig, col(id))
    val bands = (0 until numHashes / bandRows).map { b =>
      concat_ws("|", lit(b.toString) +:
        (0 until bandRows).map(r => col(s"h${b * bandRows + r}")): _*)
    }
    val keys = sigS.select(col(id), explode(array(bands: _*)).as("band"))
    val pairs = graft.plans.Salting.saltedSelfJoinPairs(
      keys, id, "band", saltBucketBound, saltFactor)
    val sigA = sig.select(col(id).as("src") +:
      (0 until numHashes).map(k => col(s"h$k").as(s"a$k")): _*)
    val sigB = sig.select(col(id).as("dst") +:
      (0 until numHashes).map(k => col(s"h$k").as(s"b$k")): _*)
    val matches = (0 until numHashes)
      .map(k => when(col(s"a$k") === col(s"b$k"), 1).otherwise(0))
      .reduce(_ + _)
    pairs.join(sigA, "src").join(sigB, "dst")
      .select(col("src"), col("dst"),
        (matches.cast("double") / numHashes).as("est_sim"))
  }

  /** Exact n-gram Jaccard pairs >= threshold, as (src, dst, common,
    * jaccard) with src < dst. Three physical plans, one result (see
    * [[jaccardPairsOnSets]] for the dispatch): driver-local all-pairs
    * under [[LocalJaccardMaxDocs]], else a prefix-filtered
    * inverted-index join (SSJoin/AllPairs-style frequency pruning):
    *
    *   1. global document frequency per shingle;
    *   2. each doc's shingles sorted rare-first under the global
    *      (df, shingle) total order;
    *   3. postings emitted for only the first n - ceil(t*n) + 1
    *      shingles per doc (the "prefix");
    *   4. prefix-prefix equi-join -> candidate pairs, keeping the
    *      minimum matching position on both sides;
    *   5. candidate pruning from integers only: length filter
    *      (min >= t*max) and PPJoin positional filter
    *      (1 + min(na-pa, nb-pb) >= ceil(t*(na+nb)/(1+t)));
    *   6. exact verification: merge-scan intersect of the full
    *      shingle sets, filter jaccard >= t.
    *
    * EXACT: jaccard(A,B) >= t implies |A∩B| >= ceil(t*|A|) and
    * >= ceil(t*|B|); the smallest common shingle under the global order
    * then has >= ceil(t*|X|) - 1 common shingles after it in each set,
    * so it sits inside both prefixes — every qualifying pair survives
    * step 4 (DedupSpec pins set-equality vs the all-postings join).
    * SCALE: a shingle shared by 1M documents appears in a doc's prefix
    * only when the doc has almost nothing rarer, so ubiquitous shingles
    * stop generating quadratic candidate blow-ups (the old unbounded
    * postings self-join emitted df(g)^2/2 rows per common shingle).
    */
  def jaccardPairs(
      df: DataFrame, id: String, text: String,
      threshold: Double, shingleN: Int = 2,
      cut: graft.plans.LineageCut = graft.plans.LineageCut.Default,
      localMaxDocs: Long = LocalJaccardMaxDocs): DataFrame =
    jaccardPairsOnSets(df, id, shingles(col(text), shingleN), threshold,
      cut, localMaxDocs = localMaxDocs)

  /** Doc-count cutoff of the driver-local jaccard plan: a table of at
    * most this many documents is collected by the dispatch probe of
    * [[jaccardPairsOnSets]] and its pairs are computed on the driver
    * ([[graft.functions.IntersectSets.allPairs]]), with no Spark job
    * past the probe's one bounded collect. It also bounds what that
    * probe pulls to the driver: `LocalJaccardMaxDocs + 1` rows.
    *
    * Set from timing both plans, not from any benchmark's table size:
    * median of 3 walls of `jaccardPairs(...).count()` on a one-file
    * parquet table, local plan vs the distributed (inline) plan, warm
    * JVM, local[4], 4 shuffle partitions, 4-core host. Documents are
    * synthesized from the sf0.01 fixture's token frequencies and
    * lengths (~50 tokens), 10% of them near-duplicates of an earlier
    * one, with fresh ids per run:
    *
    * {{{
    *   docs   t=0.1 local / dist (pairs)   t=0.7 local / dist (pairs)
    *    500     0.34 /  0.87 s    (181)      0.20 / 0.61 s   (1)
    *   1000     0.50 /  1.23 s    (585)      0.28 / 0.86 s   (7)
    *   2000     1.54 /  2.53 s   (1886)      0.45 / 0.97 s  (11)
    *   4000     5.06 /  7.75 s   (7402)      0.86 / 1.36 s  (16)
    *   8000    20.29 / 28.83 s  (28324)      2.40 / 2.96 s  (42)
    * }}}
    *
    * The local plan wins at every measured size, but its margin at
    * t=0.7 shrinks with n (local/dist 0.33 at 500 docs, 0.81 at 8000)
    * and its single driver thread reaches 20 s at t=0.1: the cutoff is
    * the largest size measured, not an extrapolated crossover.
    */
  val LocalJaccardMaxDocs = 8000L

  /** Broadcast-dispatch knobs for [[jaccardPairsOnSets]] (round 6):
    * when the doc table is executor/driver-small and the prefix-posting
    * table broadcast-small, the candidate join broadcasts its build
    * side (emissions stream through the probe side's existing even
    * partitioning — no exchange before the join, and no per-shingle-key
    * skew: a df=2000 stem gram's quadratic emission spreads over every
    * probe partition instead of hammering one hash(g) reducer) and
    * verification runs INLINE per joined row through a per-executor
    * id -> sorted-array lookup table ([[graft.functions.IntersectSets]]
    * — two hash probes and a merge scan, NO array materialization into
    * rows), deduplicating only the VERIFIED survivors. This removes the
    * pair-dedup HashAggregate over every candidate pair (20M
    * string-pair groups on the merge-dense entity vocabulary — measured
    * 16-21 s of kg_open_large's 21 s candidate wall) and the verify
    * joins. Above either knob the staged plan (shuffle_hash candidate
    * join -> pair agg -> broadcast verify) is kept unchanged — the
    * 100-TB shape. Both plans are result-identical (DedupSpec pins them
    * on a threshold-straddling fixture).
    *
    * Sizing: MaxDocs bounds the driver collect and the per-executor
    * table (~a few hundred MB of UTF8String objects at the bound for
    * ~50-gram docs); MaxPostings bounds the broadcast build relation
    * (slim 4-column rows). Production values are a deployment concern —
    * the defaults keep bench-scale corpora (5k-16k docs) far inside.
    */
  val JaccardInlineMaxPostings = 4000000L
  val JaccardInlineMaxDocs = 200000L

  /** Exact jaccard pairs over a set-valued expression `sets` of `df`'s
    * columns (any element order; deduplicated internally, so duplicate
    * elements still give true set jaccard). This is the shared edge
    * generator: text dedup passes token n-grams ([[jaccardPairs]]),
    * entity canonicalization passes char-3-gram surface sets
    * (Canonicalize.candidateEdges), both getting identical exact
    * semantics. Output (src, dst, common, jaccard), src < dst in
    * Catalyst order; null ids and empty sets pair with nothing.
    *
    * Three-way physical dispatch, identical results on every side:
    *   - local: one bounded `limit(localMaxDocs + 1).collect()` of
    *     (id, array_distinct(sets)) rows, read from `df` itself (before
    *     the Spread exchange, so the probe pays no shuffle). At or under
    *     the cutoff every pair is computed on the driver
    *     (IntersectSets.allPairs) and returned as a LocalRelation with
    *     the distributed plans' schema. The rows are in hand, so a
    *     duplicate id throws an IllegalArgumentException here.
    *   - inline: broadcast candidate join with per-row verification,
    *     while the doc and prefix-posting counts fit `inlineMaxDocs` and
    *     `inlineMaxPostings` (see [[JaccardInlineMaxDocs]]).
    *   - staged: shuffled candidate join, pair aggregation, verify joins.
    * The local probe runs only for string, long and int ids (the key
    * types IntersectSets holds), as does the inline plan. The distributed
    * counts ride the two frames' lineage cuts (ObservedCount), so the
    * inline/staged decision schedules no job. `cut` picks the lineage-cut
    * strategy for those frames — see [[graft.plans.LineageCut]]; the
    * default localCheckpoint is right in-sandbox, a cluster run over
    * expensive lineage opts into Reliable/Replicated. Tests force a side
    * with the three knobs (`localMaxDocs = -1` skips the local plan even
    * for an empty table).
    *
    * Ids must be unique. They are checked wherever the rows are already
    * on the driver: the local plan and the inline plan (whose lookup
    * table IntersectSets.fromRows builds from collected rows) throw an
    * IllegalArgumentException on a duplicate. The staged plan does not
    * check: it groups a duplicate's postings under one id and verifies
    * each duplicate row on its own. A check there would cost a
    * corpus-scale shuffle to police a precondition every caller meets
    * by construction (distinct doc ids, distinct entity surfaces).
    */
  def jaccardPairsOnSets(
      df: DataFrame, id: String, sets: Column,
      threshold: Double,
      cut: graft.plans.LineageCut = graft.plans.LineageCut.Default,
      inlineMaxPostings: Long = JaccardInlineMaxPostings,
      inlineMaxDocs: Long = JaccardInlineMaxDocs,
      localMaxDocs: Long = LocalJaccardMaxDocs): DataFrame = {
    val idField = df.select(col(id)).schema.head
    val probe =
      if (!graft.functions.IntersectSets.supportedKey(idField.dataType)) None
      else Some(df.select(col(id), array_distinct(sets))
        .limit(math.max(0L, math.min(localMaxDocs, Int.MaxValue - 1L) + 1)
          .toInt)
        .collect())
    probe.filter(_.length <= localMaxDocs) match {
      case Some(rows) =>
        jaccardPairsLocal(df.sparkSession, rows, idField, threshold)
      case None =>
        val (docs, docCount, prefixes, prefixCount) =
          jaccardPrefixes(df, id, sets, threshold, cut)
        // The frames are eagerly materialized by `cut`, so the collect
        // below cannot observe a second source evaluation; it runs only
        // once both counts are known to fit, so no path pulls more than
        // inlineMaxDocs rows to the driver.
        if (probe.isDefined &&
            docCount() <= inlineMaxDocs && prefixCount() <= inlineMaxPostings)
          jaccardPairsInline(docs.collect(), prefixes, id, threshold)
        else
          jaccardVerify(docs, candidatePairs(prefixes, id, threshold),
            id, threshold)
    }
  }

  /** Noise-free selectivity evidence for the jaccard operator:
    * (candidate pairs surviving the in-join length+positional filters,
    * exact result pairs) — wall clocks on a shared host are weak
    * evidence, counts are deterministic; the bench emits these per
    * threshold so the filters' pruning claims are checkable
    * round-over-round. Costs one extra lineage cut + two counts.
    */
  def jaccardPairStats(
      df: DataFrame, id: String, text: String,
      threshold: Double, shingleN: Int = 2,
      cut: graft.plans.LineageCut = graft.plans.LineageCut.Default)
      : (Long, Long) = {
    // deliberately stays on the STAGED candidate pipeline regardless of
    // the local and inline dispatch in jaccardPairsOnSets: the candidate
    // count is round-over-round selectivity evidence for the in-join
    // filters, and its definition (distinct pairs surviving the length +
    // positional filters) must not move when the query's physical plan
    // does. The verified count is plan-independent (exact).
    val (docs, _, prefixes, _) = jaccardPrefixes(df, id,
      shingles(col(text), shingleN), threshold, cut)
    val candF = cut.cut(candidatePairs(prefixes, id, threshold))
    (candF.count(), jaccardVerify(docs, candF, id, threshold).count())
  }

  /** shared stages 1-3 (see [[jaccardPairs]]): returns the materialized
    * sorted-set doc table (id, sh, n implied by size) and its row
    * count, the materialized prefix-posting table (id, n, pos, g) and
    * the posting count (both counts delivered by the cuts' own
    * materializations — ObservedCount).
    */
  private def jaccardPrefixes(
      df: DataFrame, id: String, sets: Column,
      threshold: Double,
      cut: graft.plans.LineageCut)
      : (DataFrame, () => Long, DataFrame, () => Long) = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    // spread the RAW rows before the set projection: tokenize + n-gram +
    // distinct is the docs stage's CPU and runs at scan parallelism
    // otherwise (guide §2.5; no-op at production scale).
    // Shingle arrays stored SORTED: one sort per document buys the
    // merge-scan intersect (SortedIntersectAtLeast) for every candidate
    // pair the document participates in. array_distinct enforces the
    // set contract (idempotent for already-distinct callers, and the
    // sizes n feeding every filter must be SET sizes). EvalOnce keeps
    // the non-empty filter above the projection: pushed down, it would
    // carry a second copy of the set expression (the tokenizer, for
    // text) under the Spread exchange.
    val (docs, docCount) = graft.plans.ObservedCount.attach(
      graft.plans.Spread.ensure(df, col(id))
        .select(col(id), graft.functions.EvalOnce.eval_once(
          sort_array(array_distinct(sets))).as("sh"))
        .filter(size(col("sh")) > 0), cut)
    val posting = docs.select(col(id), explode(col("sh")).as("g"))
    val dfreq = posting.groupBy(col("g")).agg(count(lit(1)).as("df"))
    // rare-first order per doc; struct sort = (df asc, g asc), one
    // consistent global total order (any total order preserves the
    // prefix-filter guarantee; rare-first minimizes candidates)
    val ordered = posting.join(dfreq, "g")
      .groupBy(col(id))
      .agg(sort_array(collect_list(struct(col("df"), col("g")))).as("ord"),
        count(lit(1)).as("n_sh"))
    // RELATIVE 1e-9 guard: FP t*n landing epsilon ABOVE an exact
    // integer would shorten the prefix below the guarantee; erring
    // longer is safe. The slack scales with n so the guard still
    // covers double rounding (~1e-16 relative) at 1e7+ shingles.
    val prefixLen =
      (col("n_sh") -
        ceil(lit(threshold) * col("n_sh") - lit(1e-9) * col("n_sh")) + 1)
        .cast("int")
    // materialized: both branches of the self-join below consume this
    // frame — without the cut, the posting+dfreq join and the per-doc
    // collect_list/sort aggregation (the two heaviest shuffles) execute
    // once per branch. `pos` = the token's 1-based rank in the doc's
    // FULL rare-first order (the prefix is a prefix of it), feeding the
    // positional (PPJoin) filter; `n` = the doc's full shingle count,
    // feeding both integer filters.
    // Explicit spread (guide §2.5 "input skew" / AQE caveat): the
    // prefix table is only a few MB of INPUT, so AQE's size-based
    // coalescing collapses the upstream aggregation to ~1 partition —
    // but the candidate join EMITS tens of millions of rows from it
    // (quadratic in per-gram df), and under the inline-broadcast plan
    // the probe side's stored partitioning IS the join's parallelism.
    // Stack-sampled: without this, the whole candidate join + verify
    // ran in ONE task on a 32-core session. repartition(n) with an
    // explicit count is exempt from AQE coalescing; n = the session's
    // shuffle-partition setting, so it scales with the deployment
    // rather than any local constant.
    val (prefixes, prefixCount) = graft.plans.ObservedCount.attach(
      ordered.select(col(id), col("n_sh").cast("int").as("n"),
        posexplode(slice(col("ord.g"), lit(1), prefixLen))
          .as(Seq("pos0", "g")))
      .select(col(id), col("n"), (col("pos0") + 1).as("pos"), col("g"))
      .repartition(df.sparkSession.sessionState.conf.numShufflePartitions),
      cut)
    (docs, docCount, prefixes, prefixCount)
  }

  /** The prefix equi-join condition over two aliased prefix tables `a`
    * and `b` (id, n, pos, g): equal gram, id order, and two candidate
    * filters from four ints, applied PER JOINED ROW inside the join so
    * pruned rows never reach the pair shuffle:
    *  - length: jaccard >= t forces |A∩B| >= t*max(|A|,|B|) and
    *    |A∩B| <= min(|A|,|B|), so min < t*max rules the pair out
    *    (same value for every row of a pair);
    *  - positional (PPJoin): for the pair's globally SMALLEST common
    *    prefix token g*, every common token sits at position >= pa in
    *    A and >= pb in B (per-doc order agrees with the one global
    *    order), so |A∩B| <= 1 + min(na-pa, nb-pb); a qualifying pair
    *    needs |A∩B| >= ceil(t*(na+nb)/(1+t)) (jaccard algebra).
    *    Applied per row this is EXACT: g*'s own row carries the pair's
    *    LARGEST (na-pa, nb-pb), so a qualifying pair's minimal row
    *    always survives, and later rows that get pruned only shrink
    *    the shuffle — min(pos) over survivors is still g*'s position.
    * Both carry the RELATIVE 1e-9 guard of prefixLen (erring looser is
    * safe: verify is exact).
    */
  private def prefixJoinCond(id: String, threshold: Double): Column =
    col("a.g") === col("b.g") && col(s"a.$id") < col(s"b.$id") &&
      least(col("a.n"), col("b.n")).cast("double") >=
        (lit(threshold) - lit(1e-9)) * greatest(col("a.n"), col("b.n")) &&
      lit(1) + least(col("a.n") - col("a.pos"),
        col("b.n") - col("b.pos")) >= overlapBound(threshold,
          col("a.n"), col("b.n"))

  /** ceil(t*(na+nb)/(1+t)), the least |A∩B| of a pair of set sizes
    * (na, nb) with jaccard >= t, minus the RELATIVE 1e-9 guard: the
    * product can land an FP epsilon ABOVE the exact value (e.g. 0.07*100
    * = 7.000000000000001) and would drop a pair sitting exactly at the
    * threshold.
    */
  private def overlapBound(threshold: Double, na: Column, nb: Column)
      : Column =
    ceil(lit(threshold / (1.0 + threshold)) * (na + nb)
      - lit(1e-9) * (na + nb))

  /** The exact verify tail shared by both plans: `common(need)` (a
    * bounded merge scan, -1 below `need` = [[overlapBound]] of the
    * pair's (na, nb)) evaluated once per row, then the precise jaccard
    * filter. A qualifying pair has common >= the loosened bound, so it
    * is never early-exited and its count is exact. EvalOnce: without it
    * the common/jaccard filters are pushed into the preceding join's
    * condition, where each of their THREE textual references to the
    * merge scan is evaluated per candidate pair (observed in the r5
    * plan of q_dedup_jaccard).
    */
  private def verified(pairs: DataFrame, threshold: Double)(
      common: Column => Column): DataFrame =
    pairs
      .withColumn("common", graft.functions.EvalOnce.eval_once(common(
        overlapBound(threshold, col("na"), col("nb")).cast("int"))))
      .filter(col("common") >= 0)
      .withColumn("jaccard",
        col("common").cast("double") / (col("na") + col("nb") - col("common")))
      .filter(col("jaccard") >= threshold)

  /** stages 4-5 of the STAGED plan (see [[jaccardPairs]]): prefix
    * equi-join with in-join filters ([[prefixJoinCond]]), then the
    * pair-dedup aggregation — the LAZY filtered candidate-pair frame
    * (src, dst, na, nb).
    */
  private def candidatePairs(
      prefixes: DataFrame, id: String, threshold: Double): DataFrame =
    // few-keys/huge-groups postings -> shuffle_hash (SMJ pays sorts).
    // The pair groupBy replaces the old distinct() (same shuffle shape,
    // +int payload); min(pos) minima both land on g* (order-consistent
    // positions), and na/nb ride as constant-per-doc agg payload so no
    // sizes re-join is needed.
    prefixes.alias("a")
      .join(prefixes.alias("b").hint("shuffle_hash"),
        prefixJoinCond(id, threshold))
      .groupBy(col(s"a.$id").as("src"), col(s"b.$id").as("dst"))
      .agg(min(col("a.n")).as("na"), min(col("b.n")).as("nb"))

  /** INLINE-broadcast plan (round 6, guide §2.4/§3.1): the same prefix
    * equi-join and in-join integer filters as [[candidatePairs]], but
    * the build side is an explicit broadcast (the dispatch in
    * [[jaccardPairsOnSets]] proved it executor-small), so candidate
    * emission streams through the probe side's existing partitions —
    * no Exchange before the join and no per-shingle-key emission skew
    * (a df=2000 stem gram quadratically emits inside ONE task under
    * hash(g) shuffle; under broadcast its emissions spread over every
    * probe partition its postings land in). Verification then runs PER
    * EMITTED ROW, with the join output kept SLIM (src, dst, na, nb):
    * the bounded merge scan keys into a per-executor id -> sorted-array
    * table ([[graft.functions.IntersectSets]], embedded in the plan the
    * same way NearestCentroid embeds its centroids) — an
    * attach-arrays-by-join variant was measured 2-4x SLOWER than the
    * staged plan because it materialized both shingle arrays into every
    * emitted row (and re-copied them through the second attach join).
    * The only shuffle left is the dedup aggregation over rows of
    * VERIFIED pairs (11.5k of 9.97M candidates at t=0.1; 2.73M of 20.2M
    * on the merge-dense entity vocabulary) instead of over every
    * candidate pair. Result-identical to the staged plan: the in-join
    * filters only prune (1e-9-guarded), each surviving row of a pair
    * carries the pair's constant (na, nb), the bounded scan never
    * early-exits a qualifying pair, and the final jaccard filter
    * applies the identical double formula; duplicates (one row per
    * shared prefix gram) collapse in the final aggregation.
    */
  private def jaccardPairsInline(
      docRows: Array[org.apache.spark.sql.Row], prefixes: DataFrame,
      id: String, threshold: Double): DataFrame = {
    val sets = graft.functions.IntersectSets.fromRows(docRows)
    verified(
      prefixes.alias("a")
        .join(broadcast(prefixes.alias("b")), prefixJoinCond(id, threshold))
        .select(col(s"a.$id").as("src"), col(s"b.$id").as("dst"),
          col("a.n").as("na"), col("b.n").as("nb")),
      threshold)(need => graft.functions.SortedIntersectLookupAtLeast
        .sorted_intersect_lookup(col("src"), col("dst"), need, sets))
      .groupBy(col("src"), col("dst"))
      .agg(min(col("common")).cast("long").as("common"),
        min(col("jaccard")).as("jaccard"))
      .select(col("src"), col("dst"), col("common"), col("jaccard"))
  }

  /** LOCAL plan: every pair of the probe's collected (id, distinct set)
    * rows through the shared driver kernel, as a LocalRelation with the
    * distributed plans' schema — id type and nullability of the input,
    * then nullable `common: bigint` and `jaccard: double`.
    */
  private def jaccardPairsLocal(
      spark: org.apache.spark.sql.SparkSession,
      rows: Array[org.apache.spark.sql.Row],
      idField: org.apache.spark.sql.types.StructField,
      threshold: Double): DataFrame = {
    import org.apache.spark.sql.types._
    def external(k: Any): Any = k match {
      case u: org.apache.spark.unsafe.types.UTF8String => u.toString
      case other => other
    }
    val out = graft.functions.IntersectSets.fromRows(rows)
      .allPairs(threshold).map { case (a, b, c, j) =>
        org.apache.spark.sql.Row(external(a), external(b), c.toLong, j)
      }
    spark.createDataFrame(java.util.Arrays.asList(out: _*), StructType(Seq(
      StructField("src", idField.dataType, idField.nullable),
      StructField("dst", idField.dataType, idField.nullable),
      StructField("common", LongType), StructField("jaccard", DoubleType))))
  }

  /** stage 6 (see [[jaccardPairs]]): bounded merge-scan verification of
    * the candidate pairs against the full sorted shingle sets.
    */
  private def jaccardVerify(
      docs: DataFrame, candF: DataFrame, id: String,
      threshold: Double): DataFrame = {
    // exact verify: BOUNDED merge-scan intersect over the pre-sorted
    // arrays (native codegen expression; array_intersect's per-row
    // hash set was the dominant verification cost). The per-row bound
    // lets the scan stop as soon as the remaining elements cannot reach
    // it — almost every surviving candidate on a dense low-threshold
    // corpus fails by a wide margin.
    verified(
      candF
        .join(docs.select(col(id).as("src"), col("sh").as("sha")), "src")
        .join(docs.select(col(id).as("dst"), col("sh").as("shb")), "dst"),
      threshold)(need => graft.functions.SortedIntersectAtLeast
        .sorted_intersect_at_least(col("sha"), col("shb"), need))
      .select(col("src"), col("dst"),
        col("common").cast("long").as("common"), col("jaccard"))
  }

  /** SimHash-(bits): bit j set iff the majority of distinct tokens have
    * an odd j-th hex digit of md5(token). bits <= 32 (md5 hex length).
    */
  def simhash(df: DataFrame, id: String, text: String,
      bits: Int = 16): DataFrame = {
    require(bits >= 1 && bits <= 32)
    val dfS = graft.plans.Spread.ensure(df, col(id))
    val dtoks = array_distinct(TextOps.tokens(col(text)))
    val hashes = transform(dtoks, x => md5(x.cast("binary")))
    val bitArr = transform(sequence(lit(0), lit(bits - 1)), j =>
      when(size(filter(hashes, h =>
        h.substr(j + 1, lit(1)).isin("1", "3", "5", "7", "9", "b", "d", "f")))
        * 2 > size(hashes), 1L).otherwise(0L))
    val value = aggregate(
      zip_with(bitArr, transform(sequence(lit(0), lit(bits - 1)),
        j => pow(lit(2.0), j).cast("long")), (b, p) => b * p),
      lit(0L), (acc, x) => acc + x)
    dfS.select(col(id), value.as(s"simhash$bits"))
  }
}
