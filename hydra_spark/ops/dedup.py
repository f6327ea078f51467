"""Document deduplication — exact, n-gram Jaccard, MinHash+LSH, SimHash.

Training-data-pipeline operators over a `documents(doc_id, text, ...)`
table. Scale posture per operator:

  * exact        — hash-groupBy on the text; one shuffle on a digest key
                   (never shuffle the full text at 100 TB — group on
                   md5 and keep min(doc_id) per group).
  * ngram_jaccard— EXACT all-pairs similarity via shared-shingle join.
                   The candidate join is bounded by dropping stop-grams
                   (document frequency > max_df): at web scale a gram
                   appearing in 1M docs would otherwise create 10^12
                   join rows. Verification math is exact set Jaccard.
  * minhash_lsh  — the scale path: 128-perm MinHash signatures
                   (vectorized numpy over Arrow batches) → banded LSH
                   bucketing → bucket join on (band, band_hash) →
                   exact-Jaccard verification of candidates only.
                   O(docs × bands) shuffle rows instead of O(pairs).
  * simhash      — 64-bit SimHash over md5 token-hash halves +
                   chunk-pigeonhole candidate generation (recall 1),
                   hamming-distance verification.

Shingling/hashing uses Spark's JVM-side xxhash64 so the expensive
text → token-hash step never leaves whole-stage codegen; only the
fixed-width signature math runs in (vectorized) pandas UDFs.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window as W, functions as F, types as T

from hydra_spark.ops import spread

_MERSENNE = (1 << 61) - 1


# ---------------------------------------------------------------- shingles

def word_ngrams(
    df: DataFrame, n: int = 3, text_col: str = "text", id_col: str = "doc_id",
    distinct: bool = True,
) -> DataFrame:
    """(doc_id, gram) word n-grams, JVM-side only. ``distinct=False``
    skips the dedup shuffle for consumers that dedup inside their own
    aggregation (e.g. collect_set) — one shuffle instead of two."""
    words = F.split(F.col(text_col), " ")
    # zip_with over n shifted slices — measured ~50x faster than
    # transform(sequence)+element_at (random array indexing through a
    # lambda defeats the evaluator; zip_with streams the arrays). Same
    # trick as textstats.repetition_stats.
    ln = F.size(words) - F.lit(n - 1)
    shifted = [F.slice(words, j + 1, ln) for j in range(n)]
    grams = shifted[0]
    for j in range(1, n):
        grams = F.zip_with(grams, shifted[j], lambda a, b: F.concat_ws(" ", a, b))
    out = df.select(
        F.col(id_col), F.explode(F.when(F.size(words) >= n, grams).otherwise(F.array())).alias("gram")
    )
    return out.distinct() if distinct else out


# ---------------------------------------------------------------- exact

def dedup_exact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """One representative (min id) per exact text; groups on md5 digest."""
    return (
        df.select(F.col(id_col), F.md5(F.col(text_col)).alias("_digest"))
        .groupBy("_digest")
        .agg(F.min(id_col).alias("rep_doc_id"), F.count("*").alias("n_copies"))
        .select("rep_doc_id", "n_copies")
    )


def dedup_apply(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    loser_col: str = "d2",
) -> DataFrame:
    """Turn a near-dup PAIR set into the deduplicated corpus — the
    action step after any pair emitter (minhash/simhash/ngram/cosine):
    drop every doc that appears on the higher-id side of any pair. The
    emitters all order pairs d1 < d2, so d1 is the min-id canonical and
    this keeps exactly the never-dominated docs — deterministic without
    a transitive closure (full cluster canonicalization is
    ``dup_clusters``; removal only needs domination). One distinct on
    the loser ids (pair-set sized, tiny next to the corpus) + one LEFT
    ANTI join on the id — the corpus shuffles only its key column."""
    losers = pairs.select(F.col(loser_col).alias(id_col)).distinct()
    return df.join(losers, id_col, "left_anti")


def chunk_dedup(
    df: DataFrame,
    width: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact-substring deduplication at fixed word-chunk granularity —
    the within-document removal form of dedup (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"), which
    drops repeated PASSAGES while keeping the rest of the document,
    where ``dedup_exact``/``dedup_apply`` only drop whole documents.
    Suffix-array exact-substring matching doesn't distribute; the
    standard scalable approximation is fixed-granularity chunks
    (RefinedWeb deduplicates at paragraph granularity — this corpus has
    no newlines, so the chunk is ``width`` consecutive words, last
    chunk ragged).

    Semantics: split each document into consecutive ``width``-word
    chunks; elect the corpus-GLOBAL first occurrence of each distinct
    chunk text (ordered by (doc_id, pos) — deterministic); every later
    occurrence (across documents or repeated within one) is removed;
    reassemble each document from its surviving chunks in order.

    Output per input doc: (doc_id, n_chunks, n_removed, clean_md5)
    where clean_md5 hashes the reassembled text ('' when every chunk
    was removed — the row survives so the caller can count hollowed
    docs).

    Scale shape: the election shuffles ONLY (digest, doc_id, pos) —
    chunk text never rides the global shuffle (same digest-key rule as
    ``dedup_exact``); loser coordinates ((dup fraction) × positions)
    join back on (doc_id, pos); reassembly shuffles surviving text
    once on doc_id, which is unavoidable — it is the output. No
    all-pairs term anywhere.
    """
    words = F.split(F.col(text_col), " ")
    n = F.ceil(F.size(words) / F.lit(width)).cast("int")
    # NULL text guard: size(NULL) = -1 and sequence(0, -2) would count
    # DOWN (Spark picks step -1 when start > stop) — emit no chunks
    chunks = F.when(F.col(text_col).isNull(), F.array()).otherwise(
        F.transform(
            F.sequence(F.lit(0), n - 1),
            # slice-per-chunk is O(width) each → O(len) per doc total (not
            # the random-element_at shape word_ngrams avoids)
            lambda i: F.concat_ws(" ", F.slice(words, i * width + 1, width)),
        )
    )
    base = spread(df, id_col).select(
        F.col(id_col), F.posexplode(chunks).alias("pos", "chunk")
    )
    hashed = base.withColumn("_digest", F.md5("chunk"))
    # digest-only election: this branch projects (digest, id, pos) so
    # the row_number shuffle never carries chunk text
    losers = (
        hashed.select("_digest", id_col, "pos")
        .withColumn(
            "_rn",
            F.row_number().over(W.partitionBy("_digest").orderBy(id_col, "pos")),
        )
        .filter(F.col("_rn") > 1)
        .select(id_col, "pos", F.lit(True).alias("_dup"))
    )
    marked = hashed.join(losers, [id_col, "pos"], "left")
    kept = F.when(F.col("_dup").isNull(), F.struct("pos", "chunk"))
    return marked.groupBy(id_col).agg(
        F.count("*").alias("n_chunks"),
        F.count("_dup").alias("n_removed"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(kept)), lambda s: s["chunk"]
                ),
                " ",
            )
        ).alias("clean_md5"),
    )


def benchmark_contamination(
    docs: DataFrame,
    bench: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing ANY
    word n-gram with an evaluation corpus — the pre-training hygiene
    pass every LLM data pipeline runs (GPT-3's 13-gram / Llama-style
    n-gram decontamination; n=8 default here because this corpus's
    documents are short).

    Output per training doc with >= n words: (doc_id, n_grams,
    n_shared_grams, contaminated). Docs shorter than one gram emit no
    row (they carry no checkable surface — same rule as the shingle
    ops).

    Scale shape: both sides shingle JVM-side (word_ngrams), the join is
    a gram-key equi-join against the benchmark's DISTINCT gram set —
    the benchmark corpus is orders of magnitude smaller than training
    data, so that side broadcast-joins in practice and the training
    side never shuffles more than (doc_id, gram) pairs; counts are one
    hash aggregation. No all-pairs term anywhere."""
    g_docs = word_ngrams(spread(docs, id_col), n, text_col, id_col)
    g_bench = word_ngrams(bench, n, text_col, id_col).select("gram").distinct()
    shared = g_docs.join(g_bench, "gram").groupBy(id_col).agg(
        F.count("*").alias("n_shared_grams")
    )
    totals = g_docs.groupBy(id_col).agg(F.count("*").alias("n_grams"))
    return totals.join(shared, id_col, "left").select(
        id_col,
        "n_grams",
        F.coalesce("n_shared_grams", F.lit(0)).alias("n_shared_grams"),
        (F.coalesce("n_shared_grams", F.lit(0)) > 0).alias("contaminated"),
    )


def edit_distance_pairs(
    df: DataFrame,
    max_dist: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Edit-distance similarity join: all pairs with levenshtein <= t,
    EXACT, without an all-pairs comparison — the PassJoin partition
    scheme (Li et al., VLDB 2011) in pure DataFrame ops.

    Partition lemma: split b into k = t+1 disjoint segments; if
    ed(a, b) <= t then a contains at least one of b's segments as an
    exact substring, and edits shift the match position by at most t.
    So the INDEX side emits each doc's k segments keyed by (segment
    text, segment index, own length); the PROBE side emits, for every
    candidate partner length in [L-t, L+t] and every segment index,
    the substrings of itself at the segment's position +-t. The
    candidate join is a pure equi-join on (substring, seg index,
    partner length) — recall is 1 by the lemma (the +-t window is a
    superset of PassJoin's tighter multi-match windows), precision is
    restored by an exact JVM ``levenshtein`` on the candidate pairs.

    Scale shape: probe fan-out is (2t+1)^2 (t+1) substrings per doc —
    O(docs * t^2), linear in the corpus, vs the O(docs^2) exact join;
    substrings are cut to ~L/(t+1) chars BEFORE the candidate shuffle
    so full texts ride only the final candidate-only verify join.
    Docs shorter than t+1 chars are excluded (some segments would be
    empty and the lemma breaks); dedup that tail with a direct
    comparison inside its own tiny length bucket — at any corpus size
    it is a vanishing fraction (this fixture's min length is ~40).

    Output: (d1, d2, dist), d1 < d2, dist = levenshtein <= t.
    """
    t, k = max_dist, max_dist + 1
    L = F.length(F.col(text_col))
    base_src = spread(df, id_col).select(
        F.col(id_col), F.col(text_col), L.alias("_l")
    ).where(F.col("_l") >= k)

    def seg_len(lb, i):
        # k segments of lb chars: first k-r of floor(lb/k), last r one
        # longer (r = lb mod k)
        return (lb / k).cast("int") + F.when(
            F.lit(i) >= F.lit(k) - (lb % k).cast("int"), 1
        ).otherwise(0)

    def seg_start(lb, i):
        return (lb / k).cast("int") * i + F.greatest(
            F.lit(0), F.lit(i) - (F.lit(k) - (lb % k).cast("int"))
        )

    # index: each doc's own k segments
    idx = (
        base_src.withColumn("_i", F.explode(F.sequence(F.lit(0), F.lit(t))))
        .select(
            F.col(id_col).alias("_b"),
            F.col("_l").alias("_lb"),
            "_i",
            F.substring(
                F.col(text_col), seg_start(F.col("_l"), F.col("_i")) + 1,
                seg_len(F.col("_l"), F.col("_i")),
            ).alias("_seg"),
        )
    )

    # probes: substrings at the segment positions of every candidate
    # partner length, shifted +-t
    pr = (
        base_src.withColumn("_dl", F.explode(F.sequence(F.lit(-t), F.lit(t))))
        .withColumn("_lb", (F.col("_l") + F.col("_dl")).cast("int"))
        .where(F.col("_lb") >= k)
        .withColumn("_i", F.explode(F.sequence(F.lit(0), F.lit(t))))
        .withColumn("_sl", seg_len(F.col("_lb"), F.col("_i")))
        .withColumn("_p", seg_start(F.col("_lb"), F.col("_i")))
        .withColumn(
            "_s", F.explode(F.sequence(F.col("_p") - t, F.col("_p") + t))
        )
        .where((F.col("_s") >= 0) & (F.col("_s") + F.col("_sl") <= F.col("_l")))
        .select(
            F.col(id_col).alias("_a"),
            "_lb",
            "_i",
            F.substring(F.col(text_col), F.col("_s") + 1, F.col("_sl")).alias("_seg"),
        )
    )

    cand = (
        pr.join(idx, ["_seg", "_lb", "_i"])
        .where(F.col("_a") != F.col("_b"))
        .select(
            F.least("_a", "_b").alias("d1"), F.greatest("_a", "_b").alias("d2")
        )
        .distinct()
    )
    left = df.select(F.col(id_col).alias("d1"), F.col(text_col).alias("_t1"))
    right = df.select(F.col(id_col).alias("d2"), F.col(text_col).alias("_t2"))
    return (
        cand.join(left, "d1")
        .join(right, "d2")
        .withColumn("dist", F.levenshtein("_t1", "_t2"))
        .where(F.col("dist") <= t)
        .select("d1", "d2", "dist")
    )


def content_fingerprint_dedup(
    df: DataFrame,
    payload_col: str = "bytes",
    id_col: str = "clip_id",
    order_col: str = "event_time",
    hex_for_oracle: bool = False,
) -> DataFrame:
    """Content dedup over a BINARY payload column: one row per distinct
    payload, earliest (order_col, id_col) wins.

    The scale shape is the whole point: the payload is reduced to a
    32-char md5 digest IN THE SCAN STAGE, so the groupBy shuffles ~60 B
    per row, never the audio bytes — at 10^12-clip scale the exchange
    moves digests, not terabytes. Partial aggregation (map-side combine)
    applies because min(struct)/count are algebraic.

    ``hex_for_oracle=True`` hashes the hex encoding of the payload
    instead of the raw bytes — same dedup semantics (hex is injective),
    but mirrorable by DuckDB whose md5() is VARCHAR-only. The raw form
    (default) is what production would run.
    """
    fp = (
        F.md5(F.hex(F.col(payload_col)))
        if hex_for_oracle
        else F.md5(F.col(payload_col))
    )
    return (
        df.select(fp.alias("fingerprint"), F.col(order_col), F.col(id_col))
        .groupBy("fingerprint")
        .agg(
            F.min(F.struct(order_col, id_col)).alias("_first"),
            F.count("*").alias("n_copies"),
        )
        .select("fingerprint", F.col(f"_first.{id_col}").alias(id_col), "n_copies")
    )


def content_fingerprint_dedup_stream(
    df: DataFrame,
    payload_col: str = "bytes",
    event_col: str = "event_time",
    watermark: str = "60 seconds",
) -> DataFrame:
    """Streaming form: first arrival per content fingerprint within the
    watermark horizon (dropDuplicatesWithinWatermark keyed on the md5
    digest — state holds digests, never payloads; bounded by the
    watermark, so a replayed duplicate inside the horizon is dropped
    exactly-once style while state stays finite)."""
    from hydra_spark.operators.join import dedup_within_watermark

    keyed = df.withColumn("fingerprint", F.md5(F.col(payload_col))).drop(payload_col)
    return dedup_within_watermark(keyed, ["fingerprint"], event_col, watermark)


def dup_clusters(
    pairs: DataFrame,
    a_col: str = "v1",
    b_col: str = "v2",
    max_iters: int = 25,
) -> DataFrame:
    """Connected components over near-dup pairs: (node, cluster_id),
    cluster_id = min node id in the component — the canonical-document
    selection step that turns pairwise dup detection into keep/drop
    decisions. Works on any pair source (minhash, simhash, cosine).

    Min-label propagation: each iteration every node takes the min of
    its own label and its neighbors' labels — one join + partial-agg
    min per iteration, converging in O(component diameter) rounds
    (near-dup clusters are shallow; pathological chains are bounded by
    max_iters). Only nodes that appear in a dup pair participate, so
    the working set is the dup fraction of the corpus, not the corpus.
    Each iteration is localCheckpoint()ed to truncate the iterative
    lineage (else the plan doubles per round); at cluster scale swap in
    checkpoint() on a reliable dir. The alternating large-star/small-star
    formulation is the constant-rounds refinement if diameters ever
    grow past a handful."""
    edges = pairs.select(
        F.col(a_col).cast("long").alias("src"), F.col(b_col).cast("long").alias("dst")
    )
    edges = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).persist()
    labels = edges.select(F.col("src").alias("node")).distinct().withColumn(
        "label", F.col("node")
    ).localCheckpoint()
    try:
        for _ in range(max_iters):
            nbr = (
                edges.join(labels, edges["dst"] == labels["node"])
                .groupBy("src")
                .agg(F.min("label").alias("nbr_label"))
            )
            # carry the previous label through the update so convergence
            # is ONE aggregate over the just-checkpointed rows — no
            # second join-back / extra shuffle per iteration (the
            # checksum idea from dup_clusters_star)
            new = (
                labels.join(nbr, labels["node"] == nbr["src"], "left")
                .select(
                    labels["node"],
                    labels["label"].alias("_old"),
                    F.least(
                        labels["label"], F.coalesce(nbr["nbr_label"], labels["label"])
                    ).alias("label"),
                )
                .localCheckpoint()
            )
            changed = new.agg(
                # sum over ZERO rows is NULL — coalesce so an empty pair
                # set converges immediately instead of exhausting
                # max_iters
                F.coalesce(
                    F.sum((F.col("label") != F.col("_old")).cast("long")), F.lit(0)
                ).alias("c")
            ).collect()[0]["c"]
            labels = new.select("node", "label")
            if changed == 0:
                break
        else:
            # silently returning a split component would make canonical
            # selection keep multiple "canonical" copies of one cluster
            raise RuntimeError(
                f"dup_clusters did not converge in {max_iters} iterations "
                f"(component diameter exceeds max_iters); raise max_iters "
                f"or switch to the large-star/small-star formulation"
            )
        return labels.select("node", F.col("label").alias("cluster_id"))
    finally:
        edges.unpersist()


def dup_clusters_star(
    pairs: DataFrame,
    a_col: str = "v1",
    b_col: str = "v2",
    max_rounds: int = 16,
) -> DataFrame:
    """Connected components via alternating large-star/small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond") —
    same contract as dup_clusters ((node, cluster_id=min node id)), but
    O(log^2 n) rounds regardless of component DIAMETER, where min-label
    propagation needs O(diameter) rounds. This is the scale path for
    deep components (transitive chains of near-dups: a~b~c~...~z), which
    web-scale dedup does produce; both formulations are pytest-pinned
    equal on random graphs and a 200-node chain.

    Per round: large-star hangs every neighbor v > u onto u's minimum
    (including u itself), small-star re-points every smaller neighbor
    (and u) to the minimum of u's smaller neighborhood. Each is one
    groupBy + one join over the CURRENT edge set, which only shrinks
    toward star graphs; convergence is detected by a (count,
    sum(xxhash64)) checksum instead of a set-difference shuffle.
    Fixed point = every node points at its component root.
    """
    e = pairs.select(
        F.col(a_col).cast("long").alias("src"), F.col(b_col).cast("long").alias("dst")
    ).where(F.col("src") != F.col("dst"))
    # orient larger -> smaller; dedupe (both stars preserve orientation)
    edges = (
        e.select(
            F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
        )
        .distinct()
        .localCheckpoint()
    )

    def _checksum(df: DataFrame) -> tuple:
        # decimal(38,0) sum: exact and overflow-free under ANSI mode
        row = df.agg(
            F.count("*").alias("n"),
            F.sum(F.xxhash64("src", "dst").cast("decimal(38,0)")).alias("h"),
        ).collect()[0]
        return (row["n"], row["h"])

    prev = _checksum(edges)
    if prev[0] == 0:
        return edges.select(F.col("src").alias("node"), F.col("dst").alias("cluster_id"))
    for _ in range(max_rounds):
        # ---- large-star: for each u, m = min(N(u) ∪ {u}); (v, m) ∀ v>u
        sym = edges.union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        mins = sym.groupBy("src").agg(F.min("dst").alias("_mn"))
        mins = mins.select("src", F.least("src", "_mn").alias("m"))
        edges = (
            sym.join(mins, "src")
            .where(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .distinct()
        )
        # ---- small-star: edges point large->small; for each u,
        # m = min(N⁻(u) ∪ {u}) = min(dst); re-point neighbors and u to m
        mn = edges.groupBy("src").agg(F.min("dst").alias("m"))
        nbrs = (
            edges.join(mn, "src")
            .where(F.col("dst") != F.col("m"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        )
        selfs = mn.select(F.col("src"), F.col("m").alias("dst"))
        edges = nbrs.union(selfs).distinct().localCheckpoint()
        cur = _checksum(edges)
        if cur == prev:
            break
        prev = cur
    else:
        raise RuntimeError(
            f"dup_clusters_star did not converge in {max_rounds} rounds"
        )
    roots = edges.select(F.col("dst").alias("node")).distinct().withColumn(
        "cluster_id", F.col("node")
    )
    return edges.select(
        F.col("src").alias("node"), F.col("dst").alias("cluster_id")
    ).union(roots)


# ---------------------------------------------------------------- exact jaccard

def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.05,
    n: int = 3,
    max_df: int | None = 10_000,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """All (d1 < d2) pairs with exact n-gram Jaccard >= threshold.

    max_df (DEFAULT-ON scale guard): grams appearing in more than
    max_df docs are dropped before the candidate join — one web-scale
    stop-gram would otherwise fan out O(df^2) join rows (10^12 for a
    1M-doc gram). A gram shared by >10k documents is boilerplate, not a
    dedup signal; pairs whose similarity rests ONLY on such stop-grams
    can be missed. Pass ``max_df=None`` for the exact-audit form (the
    driver fixtures' max observed df is 25, so the default is provably
    a no-op there and the output stays equal to the exact oracle).
    Output: (d1, d2, jaccard rounded 4).
    """
    g = word_ngrams(spread(df, id_col), n, text_col, id_col)
    counts = g.groupBy(id_col).agg(F.count("*").alias("n_grams"))
    cand_g = g
    if max_df is not None:
        keep = g.groupBy("gram").agg(F.count("*").alias("df")).where(F.col("df") <= max_df)
        cand_g = g.join(keep.select("gram"), "gram")
    a = cand_g.select(F.col(id_col).alias("d1"), "gram")
    b = cand_g.select(F.col(id_col).alias("d2"), "gram")
    inter = (
        a.join(b, "gram")
        .where(F.col("d1") < F.col("d2"))
        .groupBy("d1", "d2")
        .agg(F.count("*").alias("n_inter"))
    )
    ca = counts.select(F.col(id_col).alias("d1"), F.col("n_grams").alias("n1"))
    cb = counts.select(F.col(id_col).alias("d2"), F.col("n_grams").alias("n2"))
    j = (
        inter.join(ca, "d1")
        .join(cb, "d2")
        .withColumn("jaccard", F.round(F.col("n_inter") / (F.col("n1") + F.col("n2") - F.col("n_inter")), 4))
        .where(F.col("jaccard") >= threshold)
    )
    return j.select("d1", "d2", "jaccard")


# ---------------------------------------------------------------- minhash + LSH

def _minhash_udf(n_perm: int, seed: int):
    rng = np.random.default_rng(seed)
    A = rng.integers(1, _MERSENNE, size=n_perm, dtype=np.int64)
    B = rng.integers(0, _MERSENNE, size=n_perm, dtype=np.int64)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def minhash(gram_hashes: pd.Series) -> pd.Series:
        """Stacked-batch signatures: all docs' gram hashes concatenate
        into ONE (n_perm, total_grams) affine-hash matrix per slice,
        per-doc mins via minimum.reduceat — no per-doc Python loop
        (same decode-style vectorization as functions/decode.py).
        Slices bound the temp matrix to ~128 MB."""
        lens = np.array([0 if hs is None else len(hs) for hs in gram_hashes], dtype=np.int64)
        out = np.empty(len(gram_hashes), dtype=object)
        nonempty = np.nonzero(lens > 0)[0]
        for i in np.nonzero(lens == 0)[0]:
            out[i] = np.full(n_perm, _MERSENNE, dtype=np.int64)
        max_grams = max(1, (128 << 20) // (8 * n_perm))
        pos = 0
        while pos < len(nonempty):
            end = pos + 1
            tot = lens[nonempty[pos]]
            while end < len(nonempty) and tot + lens[nonempty[end]] <= max_grams:
                tot += lens[nonempty[end]]
                end += 1
            rows = nonempty[pos:end]
            h = (
                np.concatenate([np.asarray(gram_hashes.iloc[i], dtype=np.uint64) for i in rows])
                .astype(np.int64) & ((1 << 61) - 1)
            )
            m = (A[:, None] * h[None, :] + B[:, None]) % _MERSENNE
            bounds = np.concatenate(([0], np.cumsum(lens[rows])[:-1]))
            mins = np.minimum.reduceat(m, bounds, axis=1)  # (n_perm, n_docs)
            for j, i in enumerate(rows):
                out[i] = mins[:, j]
            pos = end
        return pd.Series(list(out))

    return minhash


def minhash_signatures(
    df: DataFrame, n_perm: int = 128, n: int = 3, seed: int = 42,
    text_col: str = "text", id_col: str = "doc_id",
    keep_gram_hashes: bool = False,
) -> DataFrame:
    """(doc_id, sig array<long>[n_perm]) — shingle hashing JVM-side,
    signature math vectorized numpy. Gram dedup happens INSIDE the
    aggregation (collect_set, map-side partial) — no separate distinct
    shuffle of the exploded grams. ``keep_gram_hashes`` also returns the
    per-doc distinct gram-hash set (the LSH verifier computes exact
    Jaccard from these sets directly — no re-shingling)."""
    g = word_ngrams(spread(df, id_col), n, text_col, id_col, distinct=False).select(
        F.col(id_col), F.xxhash64("gram").alias("gh")
    )
    per_doc = g.groupBy(id_col).agg(F.collect_set("gh").alias("gram_hashes"))
    mh = _minhash_udf(n_perm, seed)
    cols = [F.col(id_col), mh(F.col("gram_hashes")).alias("sig")]
    if keep_gram_hashes:
        cols.append(F.col("gram_hashes"))
    return per_doc.select(*cols)


def minhash_lsh_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    n_perm: int = 128,
    bands: int = 32,
    n: int = 3,
    seed: int = 42,
    verify: bool = True,
    estimate_margin: float | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Near-dup candidate pairs via banded MinHash-LSH; optionally
    verified with exact n-gram Jaccard >= threshold on candidates only."""
    rows = n_perm // bands
    # signatures feed the banding AND (when verifying) the exact
    # verification — persist so shingle+minhash computes once.
    # keep_gram_hashes: the verifier computes exact Jaccard from the
    # per-doc gram-hash SETS (array_intersect), so no candidate doc is
    # ever re-shingled (64-bit hash collisions are vanishing; output
    # equality with the word-gram form is test-pinned). The cache lives
    # until LRU eviction — a returned lazy plan cannot unpersist itself;
    # sessions building dedup over MANY corpora should
    # spark.catalog.clearCache() between runs.
    sigs = minhash_signatures(df, n_perm, n, seed, text_col, id_col, keep_gram_hashes=verify)
    if verify:
        sigs = sigs.persist()
    band_cols = F.explode(
        F.transform(
            F.sequence(F.lit(0), F.lit(bands - 1)),
            lambda b: F.struct(
                b.alias("band"),
                F.xxhash64(F.concat_ws(",", F.slice(F.col("sig"), b * rows + 1, rows))).alias("bh"),
            ),
        )
    ).alias("bb")
    buckets = sigs.select(F.col(id_col), band_cols).select(
        id_col, F.col("bb.band").alias("band"), F.col("bb.bh").alias("bh")
    )
    # candidate pairs via bucket self-join. (A groupBy(band,bh) +
    # collect_list + in-bucket pair-expansion variant was measured
    # SLOWER warm — 1.9-2.2s vs 1.3s at sf0.1 — the nested transform
    # explode costs more than the second cached-scan side of the join.)
    a = buckets.select(F.col(id_col).alias("d1"), "band", "bh")
    b = buckets.select(F.col(id_col).alias("d2"), "band", "bh")
    cand = a.join(b, ["band", "bh"]).where(F.col("d1") < F.col("d2")).select("d1", "d2").distinct()
    if not verify:
        return cand
    # Exact verification intersects the two persisted gram-hash sets —
    # two hash joins, zero re-shingling, all JVM-side.
    # ``estimate_margin`` (opt-in): additionally pre-filter candidates
    # whose MinHash-estimated Jaccard (matching-component fraction)
    # falls below threshold-margin before computing the intersection —
    # a probabilistic cut (estimator std ≲0.045 at 128 perms, so a 0.15
    # margin is >3σ) for web-scale runs where even the intersect compute
    # on junk candidates matters. Left OFF by default so the output is
    # DETERMINISTICALLY equal to the exact-Jaccard filter (the property
    # the driver's oracle check and the equality test pin).
    # Measured (sf0.1, local[32], warm best-of-3): margin=0.15 gives
    # 1.87s vs 2.04s default with IDENTICAL output — a ~8% cut at this
    # candidate volume (7.7k); the filter's value grows with junk-
    # candidate share, i.e. with corpus size.
    s1 = sigs.select(F.col(id_col).alias("d1"), F.col("sig").alias("_s1"), F.col("gram_hashes").alias("_g1"))
    s2 = sigs.select(F.col(id_col).alias("d2"), F.col("sig").alias("_s2"), F.col("gram_hashes").alias("_g2"))
    cand = cand.join(s1, "d1").join(s2, "d2")
    if estimate_margin is not None:
        est = F.size(F.filter(F.zip_with("_s1", "_s2", lambda x, y: x == y), lambda m: m)) / F.lit(n_perm)
        cand = cand.where(est >= threshold - estimate_margin)
    inter = F.size(F.array_intersect("_g1", "_g2"))
    return (
        cand.withColumn("_i", inter)
        .withColumn(
            "jaccard",
            F.round(F.col("_i") / (F.size("_g1") + F.size("_g2") - F.col("_i")), 4),
        )
        .where(F.col("jaccard") >= threshold)
        .select("d1", "d2", "jaccard")
    )


# ---------------------------------------------------------------- simhash

def _sim_bit_votes(h: np.ndarray, lens: np.ndarray, n_bits: int) -> np.ndarray:
    """Stacked simhash bit votes: ALL docs' token hashes concatenated
    into one (total_tokens,) array -> per-doc signed bit sums via
    add.reduceat — no per-doc Python loop (the MinHash stacked-matrix
    pattern applied to simhash). Returns (n_docs, n_bits) vote counts;
    caller thresholds >0 and packs bits."""
    bits = ((h[:, None] >> np.arange(n_bits, dtype=np.uint64)[None, :]) & np.uint64(1)).astype(
        np.int32
    )
    bounds = np.concatenate(([0], np.cumsum(lens)[:-1]))
    ones = np.add.reduceat(bits, bounds, axis=0)  # (n_docs, n_bits)
    return 2 * ones - lens[:, None]  # ones - zeros


def _sim_slices(lens: np.ndarray, nonempty: np.ndarray, bytes_per_tok: int):
    """Yield index slices of `nonempty` whose total token count keeps the
    stacked bit matrix ~128 MB (same slicing as the MinHash UDF)."""
    max_toks = max(1, (128 << 20) // bytes_per_tok)
    pos = 0
    while pos < len(nonempty):
        end = pos + 1
        tot = lens[nonempty[pos]]
        while end < len(nonempty) and tot + lens[nonempty[end]] <= max_toks:
            tot += lens[nonempty[end]]
            end += 1
        yield nonempty[pos:end]
        pos = end


def _simhash_halves_udf():
    weights = (np.int64(1) << np.arange(32, dtype=np.int64)).astype(np.int64)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def simhash2(token_hashes: pd.Series) -> pd.Series:
        """(sig_hi, sig_lo) from per-token (hi32, lo32) hash pairs —
        two 32-bit halves sidestep 64-bit sign overflow in engines whose
        integer shifts are signed (the DuckDB oracle builds the exact
        same halves in SQL). Stacked-matrix + reduceat — no per-doc
        Python loop."""
        out = np.empty(len(token_hashes), dtype=object)
        # element length is 2*n_tok (flattened hi/lo pairs)
        lens = np.array(
            [0 if hs is None else len(hs) // 2 for hs in token_hashes], dtype=np.int64
        )
        for i in np.nonzero(lens == 0)[0]:
            out[i] = [0, 0]
        nonempty = np.nonzero(lens > 0)[0]
        for rows in _sim_slices(lens, nonempty, bytes_per_tok=4 * 64):
            h = np.concatenate(
                [np.asarray(token_hashes.iloc[i], dtype=np.int64) for i in rows]
            ).reshape(-1, 2)  # (total_tok, [hi, lo])
            # both halves vote in one stacked pass: treat hi/lo as two
            # 32-bit lanes of one 64-wide bit matrix
            packed = (h[:, 0].astype(np.uint64) << np.uint64(32)) | (
                h[:, 1].astype(np.uint64) & np.uint64(0xFFFFFFFF)
            )
            v = _sim_bit_votes(packed, lens[rows], 64)  # (docs, 64): lo 0-31 = lo half
            sig_lo = ((v[:, :32] > 0).astype(np.int64) * weights[None, :]).sum(axis=1)
            sig_hi = ((v[:, 32:] > 0).astype(np.int64) * weights[None, :]).sum(axis=1)
            for j, i in enumerate(rows):
                out[i] = [int(sig_hi[j]), int(sig_lo[j])]
        return pd.Series(list(out))

    return simhash2


def simhash_pairs_md5(
    df: DataFrame, max_hamming: int = 8, chunks_per_half: int = 8,
    text_col: str = "text", id_col: str = "doc_id",
) -> DataFrame:
    """SimHash near-dup pairs with a DETERMINISTIC, SQL-reproducible
    hash family (md5 halves) and a pigeonhole-complete candidate stage.

    With 16 total chunks (8 per 32-bit half, 4 bits each) and
    max_hamming <= 15, any qualifying pair differs in at most 15 bits,
    so at least one chunk is untouched — the chunk-bucket equi-join has
    RECALL 1 by pigeonhole, making the output exactly equal to the
    all-pairs hamming filter (which is what the DuckDB oracle computes).
    """
    toks = spread(df, id_col).select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("tok")
    )
    h = F.md5("tok")
    toks = toks.select(
        id_col,
        F.conv(F.substring(h, 1, 8), 16, 10).cast("long").alias("hi"),
        F.conv(F.substring(h, 9, 8), 16, 10).cast("long").alias("lo"),
    )
    per_doc = toks.groupBy(id_col).agg(
        F.collect_list(F.array("hi", "lo")).alias("pairs_")
    ).select(id_col, F.flatten("pairs_").alias("token_hashes"))
    sh = _simhash_halves_udf()
    sigs = per_doc.select(F.col(id_col), sh(F.col("token_hashes")).alias("_sig")).select(
        F.col(id_col),
        F.col("_sig").getItem(0).alias("sig_hi"),
        F.col("_sig").getItem(1).alias("sig_lo"),
    )
    width = 32 // chunks_per_half
    cmask = (1 << width) - 1
    chunk_structs = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(half * chunks_per_half + c).alias("chunk"),
                    F.shiftrightunsigned(F.col("sig_hi" if half == 0 else "sig_lo"), c * width)
                    .bitwiseAND(F.lit(cmask))
                    .alias("cv"),
                )
                for half in (0, 1)
                for c in range(chunks_per_half)
            ]
        )
    ).alias("cc")
    buckets = sigs.select(id_col, "sig_hi", "sig_lo", chunk_structs).select(
        id_col, "sig_hi", "sig_lo", F.col("cc.chunk").alias("chunk"), F.col("cc.cv").alias("cv")
    )
    a = buckets.select(
        F.col(id_col).alias("d1"), F.col("sig_hi").alias("h1"), F.col("sig_lo").alias("l1"), "chunk", "cv"
    )
    b = buckets.select(
        F.col(id_col).alias("d2"), F.col("sig_hi").alias("h2"), F.col("sig_lo").alias("l2"), "chunk", "cv"
    )
    cand = (
        a.join(b, ["chunk", "cv"]).where(F.col("d1") < F.col("d2"))
        .select("d1", "d2", "h1", "l1", "h2", "l2").distinct()
    )
    ham = F.bit_count(F.col("h1").bitwiseXOR(F.col("h2"))) + F.bit_count(
        F.col("l1").bitwiseXOR(F.col("l2"))
    )
    return cand.withColumn("hamming", ham).where(F.col("hamming") <= max_hamming).select(
        "d1", "d2", "hamming"
    )
