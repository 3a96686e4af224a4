"""Deduplication operators over the documents table (training-data pipeline).

Engine ops a 100 TB web-text corpus needs, each built twice from one spec:
a Spark DataFrame plan and a DuckDB oracle SQL string (exact value parity —
every hash is md5 over identical strings, every number integer or a single
IEEE op):

  exact          — md5(text) groups, keep lowest doc_id (hash-groupBy dedup)
  minhash + LSH  — word-3-gram shingles → H=8 md5-based min-hashes →
                   B=4 bands of 2 rows → band-bucket self-join → candidate
                   pairs. Lexicographic min over md5 hex strings is a valid
                   min-hash (uniform over permutations of the shingle space).
  n-gram jaccard — exact jaccard over distinct shingle sets for LSH
                   candidate pairs (verification pass after LSH recall).
  simhash        — 60-bit simhash from per-token md5s (sign of ±1 sums per
                   bit), computed in ONE map-side pass per document; plus
                   the banded hamming self-join that extracts near-dup
                   pairs (4 bands × 15 bits: any pair within hamming
                   distance 3 shares at least one clean band — pigeonhole).
  embedding near-dup — cosine > threshold pairs over the embeddings table
                   (brute-force; the scale path is the LSH/IVF bucketing in
                   operators/similarity.py).

Scale notes (10^12 docs): the Spark side is SHUFFLE-FREE until candidates
meet — shingles, minhash signatures, LSH band keys, and the full 60-bit
simhash are all computed map-side from the split-token ARRAY with
higher-order functions (transform / array_min / aggregate / zip_with), never
by exploding tokens through a window or groupBy. The round-1 formulation
(posexplode + lead() OVER (doc_id ORDER BY pos)) shuffled and sorted every
token in the corpus — at 100 TB that is the biggest shuffle in the system,
and it bought nothing: an n-gram is a per-document local computation. The
only shuffles left are the band-bucket self-joins over (band_key, doc_id)
pairs — tiny compared to text — and those ARE the algorithm. The DuckDB
oracle strings keep the relational window formulation (same values, engine
for correctness only).
"""

from __future__ import annotations

import logging

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

_LOG = logging.getLogger(__name__)

N_HASHES = 8
N_BANDS = 4  # 2 rows per band
SHINGLE = 3
SIMHASH_BITS = 60
SIM_BANDS = 4        # 15 bits per band
MAX_HAMMING = 3      # <= SIM_BANDS - 1 keeps banded recall exact


# ---------------------------------------------------------------------------
# shingles: word 3-grams, map-side from the split array (no token shuffle)
# ---------------------------------------------------------------------------

def _tok_arr() -> Column:
    return F.split(F.col("text"), " ")


def _shingle_arr(arr: Column, n: int = SHINGLE) -> Column:
    """Array of word n-grams, built per-row with higher-order functions —
    pure map-side, whole-stage-codegen, no explode/window."""
    idx = F.sequence(F.lit(1), F.size(arr) - (n - 1))
    gram = lambda i: F.concat_ws(  # noqa: E731
        " ", *[F.element_at(arr, i + j) for j in range(n)])
    return F.when(F.size(arr) >= n, F.transform(idx, gram)) \
            .otherwise(F.array().cast("array<string>"))


def shingles_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.tables import read_split
    docs = read_split(spark, f"{sf_dir}/documents.parquet")
    return docs.select(
        "doc_id", F.explode(_shingle_arr(_tok_arr())).alias("shingle"))


SHINGLES_SQL = """(
  WITH toks AS (
    SELECT doc_id, unnest(arr) AS tok, generate_subscripts(arr, 1) AS pos
    FROM (SELECT doc_id, string_split(text, ' ') AS arr FROM documents)
  ), led AS (
    SELECT doc_id, tok,
           lead(tok, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS t1,
           lead(tok, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS t2
    FROM toks
  )
  SELECT doc_id, tok || ' ' || t1 || ' ' || t2 AS shingle
  FROM led WHERE t2 IS NOT NULL
)"""


# ---------------------------------------------------------------------------
# minhash signatures + LSH bands — signature AND band keys map-side; the
# only shuffle in the whole minhash/LSH pipeline is the candidate self-join.
#
# Hash family: ONE md5 per shingle, split into two 60-bit halves (x, y);
# h_i(s) = (x + i·y) mod M61 — the classic one-hash linear-tabulation
# family (pairwise-independent per i), 8× less hashing than md5(s+"#i")
# per hash. x + 7y < 2^63, so the arithmetic is exact BIGINT in both
# engines; minimum taken over int64 instead of hex strings.
# ---------------------------------------------------------------------------

M61 = (1 << 61) - 1  # Mersenne prime


def _minhash_sigs_expr(sh) -> "F.Column":
    """All N_HASHES minima folded in ONE aggregate pass so the md5 runs
    once per shingle (separate array_min(transform(...)) columns would each
    re-evaluate the hash — Catalyst does not CSE across lambda bodies)."""
    xy = F.transform(sh, lambda s: F.struct(
        F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long").alias("x"),
        F.conv(F.substring(F.md5(s), 16, 15), 16, 10).cast("long").alias("y")))
    init = F.array_repeat(F.lit(M61).cast("long"), N_HASHES)
    return F.aggregate(
        xy, init,
        lambda acc, p: F.zip_with(
            acc, F.sequence(F.lit(0), F.lit(N_HASHES - 1)),
            lambda m, i: F.least(m, F.pmod(p.x + i * p.y, F.lit(M61)))))


def minhash_bands_from_docs(docs: DataFrame) -> DataFrame:
    """(doc_id, text, …) → (doc_id, band, band_key): the whole signature +
    banding pipeline as row-local expressions."""
    sh = _shingle_arr(_tok_arr())
    sig = (docs.where(F.size(_tok_arr()) >= SHINGLE)
               .select("doc_id", _minhash_sigs_expr(sh).alias("sigs")))
    band_arr = F.array(*[
        F.struct(F.lit(b).alias("band"),  # INT, matching the oracle literal
                 F.md5(F.concat_ws(
                     "#", F.element_at("sigs", 2 * b + 1),
                     F.element_at("sigs", 2 * b + 2))).alias("band_key"))
        for b in range(N_BANDS)])
    return (sig.select("doc_id", F.explode(band_arr).alias("bb"))
               .select("doc_id", "bb.band", "bb.band_key"))


def minhash_bands_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.tables import read_split
    return minhash_bands_from_docs(
        read_split(spark, f"{sf_dir}/documents.parquet"))


def minhash_bands_sql() -> str:
    x = "('0x' || substr(md5(shingle), 1, 15))::BIGINT"
    y = "('0x' || substr(md5(shingle), 16, 15))::BIGINT"
    mins = ", ".join(
        f"min(({x} + {i} * {y}) % {M61}) AS s{i}" for i in range(N_HASHES))
    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, "
        f"md5(CAST(s{2*b} AS VARCHAR) || '#' || CAST(s{2*b+1} AS VARCHAR)) AS band_key "
        f"FROM sig"
        for b in range(N_BANDS))
    return f"""(
      WITH sig AS (
        SELECT doc_id, {mins} FROM {SHINGLES_SQL} sh GROUP BY doc_id
      )
      {band_selects}
    )"""


_PERSIST_LATEST: dict[str, DataFrame] = {}


def persist_latest(tag: str, df: DataFrame, reuse: bool = False) -> DataFrame:
    """persist() with a one-generation cache: re-invoking the same builder
    unpersists the PREVIOUS invocation's blocks first, so repeated queries
    in one session hold at most one cached copy per operator (the round-2
    advisor's leak), while the self-join still reads the subtree once.
    (localCheckpoint would be GC-cleaned but measures ~5x slower here: the
    RDD conversion materializes every column serialized and blocks AQE
    across the boundary.) At corpus scale, materialize to a table instead —
    jobs/dedup_signatures.py + *_from_table().

    reuse=True memoizes instead: a later call with the SAME tag returns
    the already-persisted DataFrame rather than unpersist-and-rebuild —
    right for deterministic derivations keyed by their input path (the
    tag embeds sf_dir), where re-invocation would otherwise throw the
    warm blocks away and recompute the identical plan."""
    prev = _PERSIST_LATEST.get(tag)
    if prev is not None:
        if reuse:
            # The memo survives a SparkSession stop/recreate in the same
            # process; a DataFrame bound to a dead session fails only at
            # action time with an opaque error. Validate liveness here and
            # rebuild instead. (Stale-input caveat: the tag embeds sf_dir,
            # so rewriting the parquet UNDER an unchanged path within one
            # session still serves the old cache — callers that rewrite
            # inputs must use a fresh tag or call with reuse=False.)
            try:
                alive = prev.sparkSession is SparkSession.getActiveSession()
            except Exception:
                alive = False
            if alive:
                return prev
        _PERSIST_LATEST.pop(tag, None)
        try:
            prev.unpersist()
        except Exception:
            pass
    df = df.persist()
    _PERSIST_LATEST[tag] = df
    return df


def lsh_pairs_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    # persist via the one-generation cache, twice over: the self-join
    # references the bands subtree twice (Catalyst would recompute the
    # full signature pipeline per side), and the RESULTING pair table has
    # four consumers in one session (the pairs query itself, both
    # connected-components variants, and the keep-list) that would each
    # rerun the band self-join without it. The pair table is tiny
    # (candidate pairs only), so the cached footprint is negligible.
    bands = persist_latest(f"minhash_bands:{sf_dir}",
                           minhash_bands_df(spark, sf_dir), reuse=True)
    return persist_latest(f"lsh_pairs:{sf_dir}", _pairs_from_bands(bands),
                          reuse=True)


def _pairs_from_bands(bands: DataFrame) -> DataFrame:
    a = bands.alias("a")
    b = bands.alias("b")
    return (a.join(b, (F.col("a.band") == F.col("b.band"))
                   & (F.col("a.band_key") == F.col("b.band_key"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
             .select(F.col("a.doc_id").alias("doc_a"),
                     F.col("b.doc_id").alias("doc_b"))
             .distinct())


def lsh_pairs_from_table(spark: SparkSession, bands_path: str) -> DataFrame:
    """Scale variant: candidate pairs from a MATERIALIZED band table
    (written by jobs/dedup_signatures.py). At 10^12 docs the signature
    pipeline runs once, lands in parquet partitioned by band, and every
    downstream consumer (pair extraction, incremental re-dedup, audits)
    joins from storage instead of recomputing text-side hashing."""
    return _pairs_from_bands(spark.read.parquet(bands_path))


def lsh_pairs_sql() -> str:
    return f"""(
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM {minhash_bands_sql()} a
      JOIN {minhash_bands_sql()} b
        ON a.band = b.band AND a.band_key = b.band_key
       AND a.doc_id < b.doc_id
    )"""


# ---------------------------------------------------------------------------
# simhash (60-bit, per-token md5 sign sums) — ONE map-side pass per document:
# tokens → 60-bit hashes → 60 signed counters folded with aggregate/zip_with
# → packed signature. No explode, no groupBy, no shuffle (round 1 exploded
# tokens × 60 bit-rows through a groupBy — ~60× the shuffle input, for the
# same number).
# ---------------------------------------------------------------------------

_SIMHASH_EXPR = """
aggregate(
  zip_with(
    aggregate(
      transform(split(text, ' '),
                t -> cast(conv(substring(md5(t), 1, 15), 16, 10) as bigint)),
      array_repeat(0, 60),
      (acc, h) -> zip_with(acc, sequence(0, 59),
                           (a, b) -> a + IF((shiftright(h, b) & 1) = 1, 1, -1))
    ),
    sequence(0, 59),
    (c, b) -> IF(c > 0, shiftleft(cast(1 as bigint), b), cast(0 as bigint))
  ),
  cast(0 as bigint),
  (acc, v) -> acc + v
)
"""


def simhash_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.tables import read_split
    docs = read_split(spark, f"{sf_dir}/documents.parquet")
    return docs.select("doc_id", F.expr(_SIMHASH_EXPR).alias("simhash"))


SIMHASH_SQL = """(
  WITH toks AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
  ), h AS (
    SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM toks
  ), bits AS (
    SELECT doc_id, h, r.range AS b FROM h, range(60) r
  ), contrib AS (
    SELECT doc_id, b, CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END AS c
    FROM bits
  ), bitvals AS (
    SELECT doc_id,
           CASE WHEN sum(c) > 0 THEN (1::BIGINT << b) ELSE 0 END AS v
    FROM contrib GROUP BY doc_id, b
  )
  SELECT doc_id, sum(v)::BIGINT AS simhash FROM bitvals GROUP BY doc_id
)"""


# ---------------------------------------------------------------------------
# simhash → near-dup PAIRS: banded hamming self-join. Split the 60-bit
# signature into 4 bands of 15 bits; any pair within hamming distance
# MAX_HAMMING=3 differs in at most 3 bands, so it collides on at least one —
# the equi-join finds every such pair (exact recall), then bit_count(xor)
# verifies the distance. Shuffles only (band, bkey, doc_id) rows.
# ---------------------------------------------------------------------------

def simhash_pairs_df(spark: SparkSession, sf_dir: str,
                     max_hamming: int = MAX_HAMMING) -> DataFrame:
    sh = simhash_df(spark, sf_dir)
    band_arr = F.array(*[
        F.struct(F.lit(b).cast("long").alias("band"),
                 F.expr(f"shiftright(simhash, {b * 15}) & 32767").alias("bkey"))
        for b in range(SIM_BANDS)])
    # one-generation persist: the self-join would recompute the map-side
    # simhash twice. Scale path: simhash_pairs_from_table below.
    bands = persist_latest(
        f"simhash_bands:{sf_dir}",
        sh.select("doc_id", "simhash", F.explode(band_arr).alias("bb"))
          .select("doc_id", "simhash", "bb.band", "bb.bkey"))
    return _simhash_pairs_from_bands(bands, max_hamming)


def _simhash_pairs_from_bands(bands: DataFrame,
                              max_hamming: int = MAX_HAMMING) -> DataFrame:
    a, b = bands.alias("a"), bands.alias("b")
    return (a.join(b, (F.col("a.band") == F.col("b.band"))
                   & (F.col("a.bkey") == F.col("b.bkey"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
             .select(F.col("a.doc_id").alias("doc_a"),
                     F.col("b.doc_id").alias("doc_b"),
                     F.bit_count(F.expr("a.simhash ^ b.simhash"))
                      .cast("long").alias("hamming"))
             .where(F.col("hamming") <= max_hamming)
             .distinct())


def simhash_pairs_from_table(spark: SparkSession, bands_path: str,
                             max_hamming: int = MAX_HAMMING) -> DataFrame:
    """Scale variant of simhash_pairs_df over a materialized band table
    (jobs/dedup_signatures.py)."""
    return _simhash_pairs_from_bands(spark.read.parquet(bands_path),
                                     max_hamming)


def dedup_components_df(spark: SparkSession, sf_dir: str,
                        max_iter: int = 15) -> DataFrame:
    """Connected components over the LSH near-dup pair graph → one cluster
    id per document (the canonical-representative step of corpus dedup:
    keep min doc_id per component, drop the rest).

    Min-label propagation: every doc starts labeled with its own id; each
    round a doc takes the min of its label and its neighbors' labels;
    converges in O(cluster diameter) rounds (near-dup clusters are
    shallow — pairs/chains of a few docs — so 2-4 rounds in practice, and
    the loop early-stops on a changed-count of 0). Plans are truncated
    with localCheckpoint each round so lineage stays flat across
    iterations (the standard iterative-Spark hygiene). Non-convergence in
    max_iter rounds (a component whose diameter exceeds the budget) is
    LOUD, never a silently-wrong label: the loop logs an error and raises.
    For adversarial chain-shaped clusters at corpus scale use
    dedup_components_bigstar_df below — alternating large-star/small-star
    rounds (Kiveris et al.) converge in O(log n) rounds regardless of
    diameter."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    pairs = lsh_pairs_df(spark, sf_dir)
    e = pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
    edges = (e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
              .localCheckpoint(eager=False))
    labels = docs.select("doc_id", F.col("doc_id").alias("comp"))
    for _ in range(max_iter):
        prop = (edges.join(labels, edges.v == labels.doc_id)
                     .groupBy("u").agg(F.min("comp").alias("ncomp")))
        # changed-flag computed inline: new comp != old comp iff a
        # neighbor's label undercuts ours, so the stop-condition count
        # rides the SAME frame/action instead of re-joining nxt against
        # the previous labels every round (r08: one join + one shuffle
        # fewer per round)
        nxt = (labels.join(prop, labels.doc_id == prop.u, "left")
                     .select(labels.doc_id,
                             F.least(labels.comp,
                                     F.coalesce(prop.ncomp, labels.comp))
                              .alias("comp"),
                             (F.coalesce(prop.ncomp, labels.comp)
                              < labels.comp).alias("chg"))
                     .localCheckpoint(eager=False))
        changed = int(nxt.agg(
            F.sum(F.col("chg").cast("long"))).first()[0] or 0)
        labels = nxt.select("doc_id", "comp")
        if changed == 0:
            break
    else:
        _LOG.error("dedup_components_df: %d labels still changing after %d "
                   "rounds — component diameter exceeds the iteration "
                   "budget; use dedup_components_bigstar_df", changed,
                   max_iter)
        raise RuntimeError(
            f"min-label propagation did not converge in {max_iter} rounds "
            f"({changed} labels still changing); a component's diameter "
            f"exceeds the budget — raise max_iter or use "
            f"dedup_components_bigstar_df (O(log n) rounds)")
    return labels.select("doc_id", F.col("comp").cast("long").alias("comp"))


def dedup_components_sql() -> str:
    """Oracle: exact transitive closure by recursive CTE, comp = min over
    the reachable set ∪ self."""
    return f"""(
      WITH RECURSIVE pair_tbl AS (
        SELECT doc_a, doc_b FROM {lsh_pairs_sql()} p
      ), edges AS (
        SELECT doc_a AS u, doc_b AS v FROM pair_tbl
        UNION ALL
        SELECT doc_b AS u, doc_a AS v FROM pair_tbl
      ), reach(u, v) AS (
        SELECT u, v FROM edges
        UNION
        SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
      )
      SELECT d.doc_id,
             CAST(LEAST(d.doc_id, COALESCE(MIN(r.v), d.doc_id)) AS BIGINT)
               AS comp
      FROM documents d LEFT JOIN reach r ON r.u = d.doc_id
      GROUP BY d.doc_id
    )"""


def _local_cc_min(u, v):
    """Vectorized min-label connected components over one in-memory edge
    list (numpy, no scipy in the container): returns (nodes, comp) where
    comp[i] is the minimum node id of nodes[i]'s component WITHIN this
    edge set. Shiloach–Vishkin-style: edge relaxation (scatter-min of
    labels across endpoints) alternated with pointer jumping, O(log n)
    outer iterations, each O(E + N)."""
    import numpy as np

    nodes, inv = np.unique(np.concatenate([u, v]), return_inverse=True)
    ui, vi = inv[:len(u)], inv[len(u):]
    lab = np.arange(len(nodes), dtype=np.int64)
    while True:
        old = lab.copy()
        mn = np.minimum(lab[ui], lab[vi])
        np.minimum.at(lab, ui, mn)
        np.minimum.at(lab, vi, mn)
        while True:
            nxt = lab[lab]
            if np.array_equal(nxt, lab):
                break
            lab = nxt
        if np.array_equal(lab, old):
            break
    return nodes, nodes[lab]


def _contract_mapping(e: DataFrame) -> DataFrame:
    """Per-partition local contraction (the classic first phase of
    distributed CC): one shuffle-free Arrow pass running union-find over
    each partition's edges, emitting (a=node, b=local component min)
    for every node seen in the partition. A node whose edges span
    partitions yields one row per partition — those conflicts are exactly
    the residual connectivity the global rounds must resolve. Memory per
    task is bounded by the partition's edge count (16 B/edge + the label
    arrays), i.e. by maxPartitionBytes, not by graph size."""
    import numpy as np
    import pandas as pd

    def run(batches):
        us, vs = [], []
        for b in batches:
            us.append(b["u"].to_numpy(dtype="int64"))
            vs.append(b["v"].to_numpy(dtype="int64"))
        if not us:
            return
        u, v = np.concatenate(us), np.concatenate(vs)
        if len(u) == 0:
            return
        nodes, comp = _local_cc_min(u, v)
        yield pd.DataFrame({"a": nodes, "b": comp})

    return e.mapInPandas(run, schema="a long, b long")


def components_bigstar(edges: DataFrame, max_rounds: int = 40,
                       contract: bool = True) -> tuple[DataFrame, int]:
    """Connected components over (u, v) long pairs. Output: (star_edges,
    n_rounds) where star_edges is the converged star set — each non-root
    node carries exactly (node, component_min).

    Two phases (contract=True, the default):

      0. LOCAL CONTRACTION — one shuffle-free map pass runs union-find
         over each partition's edges (_contract_mapping). Everything
         connected within a partition collapses to its local min; the
         only connectivity left is nodes whose edges span partitions
         (they carry different local roots in different partitions). One
         groupBy over the (node, local_root) mapping extracts those
         conflict edges — a graph of LOCAL ROOTS, typically orders of
         magnitude smaller than the input (r08: the 1M-edge bench probe
         contracts to ~100 root edges).
      1. Alternating large-star/small-star rounds (below) on the
         contracted root graph, then one join maps every node through
         its local root to the global component min. Results are
         partition-independent: the star SET is identical to running the
         rounds directly (contract=False), only the round count changes
         (the contraction pass is counted as one round).

    The alternating rounds (Kiveris, Lattanzi, Mirrokni, Rastogi,
    Vassilvitskii — "Connected Components in MapReduce and Beyond",
    SoCC'14) converge in O(log^2 n) rounds (O(log n) observed)
    REGARDLESS of component diameter, unlike min-label propagation's
    O(diameter).

    One round = large-star then small-star over the canonical (u > v)
    edge set:
      large-star(u): m = min(nbrs(u) + [u]); every neighbor v > u
                     re-points to m — emit (v, m).
      small-star(u): m = min of u's SMALLER neighbors (v < u); every
                     smaller neighbor re-points to m and u itself points
                     to m — emit (v, m) for v in nbrs, plus (u, m).
    Both emit only (bigger, smaller) pairs, so the set stays canonical;
    the fixpoint (star graphs) is detected in ONE action per round: a
    lazy localCheckpoint materialized by a single count+bit_xor(xxhash64)
    aggregate, compared to the prior round's pair — the definitive
    subtract().isEmpty() set check runs only when both match (the final
    round, plus astronomically-unlikely xor collisions), so convergence
    never rests on the hash alone. Each round's edge set is
    localCheckpoint-ed: in an iterative loop the LOGICAL plan quadruples
    per round and Catalyst analysis time explodes (persist caches data
    but not the plan) — lineage truncation is the standard
    iterative-Spark hygiene here, and the 2-long-column rows make the
    RDD serialization cheap. Every op is join/groupBy-min — the same
    shuffle shape as one BFS round, but log-many of them."""
    def _count_xor(df: DataFrame) -> tuple[int, int]:
        # one action: computes every partition (materializing a pending
        # lazy localCheckpoint as a side effect) and returns the set's
        # (count, xor-of-row-hashes) fingerprint
        r = df.agg(F.count(F.lit(1)).alias("n"),
                   F.bit_xor(F.xxhash64("u", "v")).alias("x")).first()
        return int(r["n"]), (0 if r["x"] is None else int(r["x"]))

    canon = (edges.select(F.greatest("u", "v").alias("u"),
                          F.least("u", "v").alias("v"))
                  .where(F.col("u") != F.col("v")))

    if contract:
        # Phase 0: local contraction. The mapping (node -> local root) has
        # two consumers (conflict extraction now, the final expansion
        # join later) — one-generation persist, first action counts it.
        mapping = persist_latest("bigstar:mapping", _contract_mapping(canon))
        if mapping.limit(1).count() == 0:
            return canon.distinct(), 0
        # conflict edges: a node seen with >1 distinct local root links
        # those roots (everything else merged inside a partition already);
        # collect_set size is bounded by the partition count, never by
        # node degree
        sm = F.array_min("bs")
        cedges = (mapping.groupBy("a")
                         .agg(F.collect_set("b").alias("bs"))
                         .where(F.size("bs") > 1)
                         .select(F.explode("bs").alias("u"),
                                 sm.alias("v"))
                         .where(F.col("u") != F.col("v")))
        stars_c, inner = _bigstar_rounds(cedges, max_rounds, _count_xor)
        # expand: node -> local root -> component min (roots absent from
        # the contracted star set are already their component's min)
        comp_map = stars_c.select(F.col("u").alias("b"),
                                  F.col("v").alias("comp"))
        stars = (mapping.join(comp_map, "b", "left")
                        .select(F.col("a").alias("u"),
                                F.coalesce("comp", "b").alias("v"))
                        .where(F.col("u") != F.col("v"))
                        .distinct())
        return stars, inner + 1

    return _bigstar_rounds(canon, max_rounds, _count_xor)


def _bigstar_rounds(canon: DataFrame, max_rounds: int,
                    _count_xor) -> tuple[DataFrame, int]:
    """The alternating large-star/small-star fixpoint loop over a
    canonical (u > v, u != v) edge frame — see components_bigstar."""
    e = canon.distinct().localCheckpoint(eager=False)
    n_edges, x_prev = _count_xor(e)
    rounds = 0
    if n_edges == 0:
        return e, rounds
    # Two physically different round bodies, same emitted edge SET.
    # Small graphs (the common post-contraction case) use the
    # grouped-adjacency form — each star is ONE groupBy(collect_list +
    # min) with a map-side explode, so a round costs 3 shuffles
    # (large-star, small-star, final distinct) instead of the join
    # form's 6 (two groupBys + two joins + two distincts) — r08: the
    # 1M-edge bench probe's inner rounds run on ~10^2 contracted edges
    # where per-round fixed cost dominates. The cap bounds the worst
    # case of one giant adjacency row (a group's list can't exceed
    # n_edges entries); above it the join form's AQE-skew-splittable
    # shape is the safe one.
    _LIST_CAP = 10_000_000
    for rounds in range(1, max_rounds + 1):
        nbrs = e.union(e.select(F.col("v").alias("u"),
                                F.col("u").alias("v")))
        if n_edges <= _LIST_CAP:
            g1 = nbrs.groupBy("u").agg(F.min("v").alias("mn"),
                                       F.collect_list("v").alias("vs"))
            # m = least(mn, u) <= u < x for every emitted x, so x != m
            large = (g1.select(F.least("mn", "u").alias("m"), "u",
                               F.explode("vs").alias("x"))
                       .where(F.col("x") > F.col("u"))
                       .select(F.col("x").alias("u"), F.col("m").alias("v")))
            g2 = large.groupBy("u").agg(F.min("v").alias("m"),
                                        F.collect_list("v").alias("vs"))
            small = (g2.select(
                        "m",
                        F.explode(F.concat("vs", F.array(F.col("u"))))
                         .alias("x"))
                       .where(F.col("x") != F.col("m"))
                       .select(F.col("x").alias("u"), F.col("m").alias("v"))
                       .distinct().localCheckpoint(eager=False))
            n_new, x_new = _count_xor(small)  # materializes small
        else:
            lmin = (nbrs.groupBy("u").agg(F.min("v").alias("mn"))
                        .select("u", F.least("mn", "u").alias("m")))
            large = (nbrs.join(lmin, "u")
                         .where(F.col("v") > F.col("u"))
                         .select(F.col("v").alias("u"), F.col("m").alias("v"))
                         .where(F.col("u") != F.col("v"))
                         .distinct().persist())
            smin = large.groupBy("u").agg(F.min("v").alias("m"))
            small = (large.join(smin, "u")
                          .select(F.col("v").alias("u"), F.col("m").alias("v"))
                          .union(smin.select("u", F.col("m").alias("v")))
                          .where(F.col("u") != F.col("v"))
                          .distinct().localCheckpoint(eager=False))
            n_new, x_new = _count_xor(small)  # materializes small (and
            large.unpersist()                 # large, cached in-job)
        converged = (n_new == n_edges and x_new == x_prev
                     and small.subtract(e).isEmpty())
        e, n_edges, x_prev = small, n_new, x_new
        if converged:
            break
    else:
        _LOG.error("components_bigstar: no fixpoint in %d rounds",
                   max_rounds)
        raise RuntimeError(
            f"large-star/small-star did not converge in {max_rounds} "
            f"rounds — pathological input (expected O(log n) rounds)")
    return e, rounds


def dedup_components_bigstar_df(spark: SparkSession, sf_dir: str,
                                pairs: DataFrame | None = None) -> DataFrame:
    """dedup_components_df semantics (doc_id → component min over the LSH
    near-dup pair graph) via the large-star/small-star rounds — the scale
    path for deep chain-shaped clusters. Pass `pairs` (doc_a, doc_b) to
    run over a materialized pair table instead of recomputing LSH."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    if pairs is None:
        pairs = lsh_pairs_df(spark, sf_dir)
    edges = pairs.select(F.col("doc_a").alias("u"),
                         F.col("doc_b").alias("v"))
    stars, _ = components_bigstar(edges)
    comp = stars.groupBy("u").agg(F.min("v").alias("ncomp"))
    return (docs.join(comp, docs.doc_id == comp.u, "left")
                .select("doc_id",
                        F.coalesce("ncomp", "doc_id").cast("long")
                         .alias("comp")))


def simhash_pairs_sql(max_hamming: int = MAX_HAMMING) -> str:
    return f"""(
      WITH sh AS (SELECT * FROM {SIMHASH_SQL} s),
      bands AS (
        SELECT doc_id, simhash, r.range AS band,
               (simhash >> (r.range * 15)::INT) & 32767 AS bkey
        FROM sh, range({SIM_BANDS}) r
      )
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
      WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
    )"""


# ---------------------------------------------------------------------------
# paragraph-level boilerplate dedup (CCNet-style)
# ---------------------------------------------------------------------------

def paragraph_rows(docs: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text",
                   segment: str = "regex:\n{2,}") -> DataFrame:
    """Map-side paragraph explode shared by the batch dedup and its
    streaming twin: (id, pos, para, h) rows where h is md5 of the
    lower/collapse/trim-normalized paragraph; empty paragraphs dropped.
    Pure projection + posexplode — works on batch AND streaming frames."""
    kind, _, arg = segment.partition(":")
    if kind == "words":
        n = int(arg)
        toks = F.filter(F.split(F.col(text_col), " "),
                        lambda x: x != F.lit(""))
        n_chunks = F.ceil(F.size(toks) / F.lit(n)).cast("int")
        paras_arr = F.transform(
            F.sequence(F.lit(0), F.greatest(n_chunks - 1, F.lit(0))),
            lambda i: F.array_join(F.slice(toks, i * n + 1, n), " "))
        paras_arr = F.when(F.size(toks) > 0, paras_arr)\
                     .otherwise(F.array().cast("array<string>"))
    elif kind == "regex":
        paras_arr = F.split(F.col(text_col), arg)
    else:
        raise ValueError(f"unknown segment mode: {segment!r}")

    norm = F.trim(F.regexp_replace(F.lower(F.col("para")), r"\s+", " "))
    return (docs.select(id_col, F.posexplode(paras_arr).alias("pos", "para"))
                .withColumn("norm", norm)
                .where(F.col("norm") != "")
                .select(id_col, "pos", "para", F.md5("norm").alias("h")))


def paragraph_dedup(docs: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text",
                    segment: str = "regex:\n{2,}",
                    join_sep: str = "\n") -> DataFrame:
    """CCNet-style paragraph-level dedup (Wenzek et al., LREC 2020): split
    each document into paragraphs, hash the normalized paragraph, and keep
    only the FIRST corpus-wide occurrence of each hash (lowest (id, pos) —
    a total order, so the result is deterministic under any partitioning);
    boilerplate (headers, navbars, license blocks) repeats across pages
    and loses everywhere but once. Returns one row per input document:
    (id, clean_text, n_paras, n_kept), clean_text the kept paragraphs
    re-joined in document order ('' if every paragraph was a repeat).

    `segment` picks the splitter: "regex:<pat>" splits on a pattern (the
    real-world mode, default blank lines) and "words:<N>" chunks the
    token stream N words at a time (for corpora without paragraph
    markers, like the synthetic documents table). Normalization is
    lower + whitespace-collapse + trim; empty paragraphs drop out before
    hashing (they carry no content and would all collide).

    Scale shape (10^12 docs): split/normalize/hash are map-side array
    ops; the ONLY data that shuffles is (hash, id, pos, paragraph) — the
    keep-first decision is one window over the hash (partial-aggregable
    min), the reassembly one groupBy over the id. Paragraph text rides
    the shuffle once; at 100 TB the alternative (agg hashes → broadcast
    the drop-set) only wins when the boilerplate fraction is tiny, and
    never changes results."""
    from pyspark.sql.window import Window

    paras = paragraph_rows(docs, id_col, text_col, segment)
    w = Window.partitionBy("h").orderBy(id_col, "pos")
    kept = paras.withColumn("keep", F.row_number().over(w) == 1)
    agg = (kept.groupBy(id_col)
               .agg(F.count("*").alias("n_paras"),
                    F.sum(F.col("keep").cast("long")).alias("n_kept"),
                    F.array_join(
                        F.transform(
                            F.array_sort(F.collect_list(
                                F.when(F.col("keep"),
                                       F.struct("pos", "para")))),
                            lambda s: s["para"]),
                        join_sep).alias("clean_text")))
    return (docs.select(id_col)
                .join(agg, id_col, "left")
                .select(id_col,
                        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
                        F.coalesce("n_paras", F.lit(0)).cast("long")
                         .alias("n_paras"),
                        F.coalesce("n_kept", F.lit(0)).cast("long")
                         .alias("n_kept")))


def paragraph_dedup_sql(words_n: int = 8, join_sep: str = " ") -> str:
    """DuckDB oracle for paragraph_dedup in words:<N> mode over the
    documents view — identical strings at every step (chunk join, lower/
    collapse/trim normalization, md5), keep-first by (doc_id, pos)."""
    return f"""(
      WITH toks AS (
        SELECT doc_id, u.tok, u.i
        FROM documents,
             LATERAL (SELECT unnest(string_split(text, ' ')) AS tok,
                             generate_subscripts(string_split(text, ' '), 1) AS i) u
        WHERE u.tok <> ''
      ),
      paras AS (
        SELECT doc_id, CAST((i - 1) // {words_n} AS INT) AS pos,
               string_agg(tok, ' ' ORDER BY i) AS para
        FROM toks GROUP BY doc_id, (i - 1) // {words_n}
      ),
      hashed AS (
        SELECT doc_id, pos, para,
               md5(trim(regexp_replace(lower(para), '\\s+', ' ', 'g'))) AS h
        FROM paras
        WHERE trim(regexp_replace(lower(para), '\\s+', ' ', 'g')) <> ''
      ),
      kept AS (
        SELECT doc_id, pos, para,
               row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) = 1
                 AS keep
        FROM hashed
      ),
      agg AS (
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_paras,
               CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
               string_agg(CASE WHEN keep THEN para END, '{join_sep}'
                          ORDER BY pos) AS clean_text
        FROM kept GROUP BY doc_id
      )
      SELECT d.doc_id,
             coalesce(a.clean_text, '') AS clean_text,
             coalesce(a.n_paras, 0) AS n_paras,
             coalesce(a.n_kept, 0) AS n_kept
      FROM documents d LEFT JOIN agg a USING (doc_id)
    )"""
