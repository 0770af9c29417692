"""Scalable deduplication (BASELINE.json north star: LLM-data-pipeline ops).

Four families, all shuffle-conscious:

- **Exact**: md5 fingerprint of normalized text → groupBy(fingerprint) →
  keep min doc_id. One shuffle on the 32-hex-char key; at 100 TB this is the
  canonical hash-partition dedup (no sort, no window over the whole table —
  min() is a partial-aggregatable function, unlike row_number).
- **MinHash + LSH banding**: shingle → k min-hashes → b bands of r hashes →
  candidate pairs join on (band_idx, band_signature). Cost is
  O(docs × shingles) + a self-join keyed on band buckets — never the O(n²)
  cross join. Hashes are md5-based (engine-portable; lexicographic min over
  salted hex digests is a valid min-hash family), not xxhash64 (JVM-only).
- **Exact n-gram Jaccard**: inverted-index join (explode shingles → join on
  shingle → count common per pair) — again no cross join; used standalone or
  as the verify stage after LSH candidates.
- **SimHash**: 64-bit signature from per-shingle md5 bits, majority vote per
  bit position; near-dups = signatures within small Hamming distance.

All computation is built-in expressions (md5, explode, groupBy, bit ops) —
no Python on the hot path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .text import fingerprint, normalized_text, shingles
from .scale import pin


def exact_dedup_groups(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact dedup: (fingerprint, keeper=min doc_id, n_copies) per distinct
    content. Partial-aggregatable → map-side combine, one shuffle."""
    return (
        docs.select("doc_id", fingerprint(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("n_copies"))
    )


def exact_dedup(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact dedup applied: keep one row per distinct normalized text."""
    keep = exact_dedup_groups(docs, text_col).select(F.col("keep_doc_id").alias("doc_id"))
    return docs.join(keep, "doc_id", "semi")


def _doc_shingles(docs: DataFrame, text_col: str, n: int) -> DataFrame:
    """(doc_id, shingle) exploded, distinct per doc.

    fan_out first: shingling is interpreted-HOF CPU work, and a corpus
    that arrives as few parquet splits would otherwise run it serially
    (the round-5 containment finding — 3.5 s single-task at sf0.1);
    identity on any multi-split dataset."""
    from .scale import fan_out

    return fan_out(docs.select("doc_id", text_col)).select(
        "doc_id", F.explode(shingles(F.col(text_col), n)).alias("sh")
    )


#: Default pre-verify bucket cap for the COMPOSED dedup pipelines
#: (dedup_verified_keepers, corpus_pipeline_v2_digest). Chosen ABOVE every
#: gate corpus's max bucket multiplicity — measured max m: sf0.01 = 3,
#: sf0.1 = 9, variant sf0.01v = 10 — so on oracle-compared corpora the
#: capped pair set is bit-identical to the uncapped one (every bucket
#: emits its full clique), while a replicated capstone corpus (64×/128×:
#: m = 64·base … 128·base) crosses it and pays O(m) instead of O(m²).
DEFAULT_BUCKET_CAP = 16

#: universal-hash family over one md5 base hash: h_i = (a_i·h + b_i) mod P.
#: P is a Mersenne prime < 2^31 so a_i·(h mod P) + b_i < 2^62 — no overflow
#: under ANSI mode in either engine. a_i/b_i from a fixed LCG seed so the
#: Spark implementation and the DuckDB oracle derive identical constants.
MINHASH_P = (1 << 31) - 1


def minhash_coeffs(num_hashes: int, seed: int = 7) -> list[tuple[int, int]]:
    state = seed
    out = []
    for _ in range(num_hashes):
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
        a = state % (MINHASH_P - 1) + 1  # a ∈ [1, P-1]
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
        b = state % MINHASH_P  # b ∈ [0, P-1]
        out.append((a, b))
    return out


def minhash_signatures(
    docs: DataFrame,
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 16,
    *,
    shingles_df: DataFrame | None = None,
) -> DataFrame:
    """k min-hashes per doc: min over shingles of (a_i·h + b_i) mod P where
    h = the shingle's md5 prefix as an integer.

    ONE md5 per shingle + k integer multiply-adds (vs k md5s): the string
    hashing is the hot cost at corpus scale. One explode + one
    groupBy(doc_id) with k partial-aggregatable min()s — a single shuffle
    regardless of k.

    ``shingles_df`` lets callers that ALSO need the shingle stream (the
    dedup-calibration queries) pass a shared — typically localCheckpoint'ed
    — (doc_id, sh) frame, so the corpus is scanned and shingled once
    instead of once per derived frame."""
    sh = shingles_df if shingles_df is not None else _doc_shingles(docs, text_col, n)
    h = F.pmod(
        F.conv(F.substring(F.md5(F.col("sh")), 1, 15), 16, 10).cast("long"), F.lit(MINHASH_P)
    )
    sh = sh.select("doc_id", h.alias("h"))
    aggs = [
        F.min(F.pmod(F.col("h") * F.lit(a) + F.lit(b), F.lit(MINHASH_P))).alias(f"h{i}")
        for i, (a, b) in enumerate(minhash_coeffs(num_hashes))
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def lsh_candidate_pairs(
    docs: DataFrame,
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    *,
    signatures_df: DataFrame | None = None,
    bucket_cap: int | None = None,
) -> DataFrame:
    """LSH banding: docs sharing any band signature become candidate pairs.

    Returns distinct (doc_a < doc_b) pairs. The join is keyed on
    (band_idx, band_sig) — bucket sizes are small for non-dup content, so
    the self-join stays near-linear; a hot bucket (boilerplate text) is
    exactly the skew AQE's skew-join handling splits.

    ``signatures_df`` (doc_id, h0..h{k-1}) short-circuits the signature
    build for callers that share it across frames (see
    minhash_signatures.shingles_df).

    ``bucket_cap`` (r13 verdict task 1 — the pre-verify multiplicity
    cap): with cap M, a bucket of m docs emits the FULL CLIQUE over its
    M first members plus ONE edge per remaining member (star to its
    exact-dup group's first member; one boundary link per adjacent
    group), all in (sig_key, doc_id) order (exact-dup groups
    contiguous) — min(m,M)·(min(m,M)−1)/2 + max(0, m−M) pairs, LINEAR
    in m past the cap instead of m(m−1)/2. This bounds the quadratic
    verify term on duplicate-saturated corpora (the 128× capstone's
    127/128-dup regime) while preserving exactly what keeper election
    needs:

    - buckets with m ≤ M emit exactly the uncapped pair set (identity);
    - past the cap, every bucket member stays CONNECTED to the bucket:
      star edges are exact-dup pairs (identical text ⇒ identical full
      signature ⇒ same sig_key; Jaccard 1 ≥ any threshold) that ALWAYS
      survive verification, so an exact-dup group can never strand;
      boundary edges between adjacent sig-groups survive verification
      exactly when the groups' contents are true near-dups. Whenever
      the capped verified component stays connected, min-label CC
      elects the IDENTICAL keeper as the uncapped pipeline (the
      transitive-closure argument: CC labels depend only on
      connectivity, not edge multiplicity). The recall trade — two
      similar sig-groups stranded in the tail of a mixed mega-bucket
      whose boundary path fails verification — is bounded to
      band-collision buckets of >M mutually dissimilar docs, which the
      uncapped verifier rejects pairwise anyway."""
    rows_per_band = num_hashes // bands
    sigs = (
        signatures_df
        if signatures_df is not None
        else minhash_signatures(docs, text_col, n, num_hashes)
    )
    band_cols = [
        F.struct(
            F.lit(b).alias("band_idx"),
            F.md5(
                F.concat_ws(
                    "|",
                    *[
                        F.col(f"h{b * rows_per_band + r}").cast("string")
                        for r in range(rows_per_band)
                    ],
                )
            ).alias("band_sig"),
        )
        for b in range(bands)
    ]
    if bucket_cap is not None:
        # sig_key groups EXACT duplicates (identical text ⇒ identical full
        # signature) contiguously in each bucket's chain order, so a dup
        # group's chain edges are all true dup pairs (Jaccard 1) and the
        # group never strands across interleaved replicas of other docs.
        sig_key = F.md5(
            F.concat_ws(
                "|", *[F.col(f"h{i}").cast("string") for i in range(num_hashes)]
            )
        )
        banded_k = sigs.select(
            "doc_id", sig_key.alias("sig_key"), F.explode(F.array(*band_cols)).alias("band")
        ).select(
            "doc_id",
            "sig_key",
            F.col("band.band_idx").alias("band_idx"),
            F.col("band.band_sig").alias("band_sig"),
        )
        return _capped_band_pairs(banded_k, bucket_cap)
    banded = sigs.select("doc_id", F.explode(F.array(*band_cols)).alias("band")).select(
        "doc_id", F.col("band.band_idx").alias("band_idx"), F.col("band.band_sig").alias("band_sig")
    )
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(b, ["band_idx", "band_sig"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def _capped_band_pairs(banded: DataFrame, cap: int) -> DataFrame:
    """Bounded candidate emission per (band_idx, band_sig) bucket: clique
    over the ``cap`` smallest doc_ids + consecutive chain through the rest
    (see lsh_candidate_pairs.bucket_cap).

    Tail topology is STAR-PER-SIG-GROUP, not a pure chain: each tail row
    links to its exact-dup group's first member (a Jaccard-1 pair —
    always survives verification), and each group's first member links
    to the previous bucket row (one boundary edge per adjacent group
    pair). Same edge count as a chain — exactly one edge per tail row —
    but component DIAMETER stays ≤ 2 + #sig-groups instead of O(m): a
    pure chain of m replicas needs O(m) min-label CC rounds (measured:
    24-long chains exceed connected_components_minlabel's default
    max_iter and strand members), while the star keeps keeper election
    inside the default iteration budget at any replication factor.

    One shuffle partitioned BY THE BUCKET KEY (never an unpartitioned
    window): the (bucket, sig_key) group window is a refinement of the
    bucket window with a compatible sort order, so both ride the same
    exchange; the head clique is a self-join of the ≤cap-row head frame
    on the bucket key. Boundary pairs are canonicalized with
    least/greatest (sig order need not follow id order)."""
    from pyspark.sql import Window

    w = Window.partitionBy("band_idx", "band_sig").orderBy("sig_key", "doc_id")
    wg = Window.partitionBy("band_idx", "band_sig", "sig_key").orderBy("doc_id")
    ranked = banded.select(
        "band_idx",
        "band_sig",
        "doc_id",
        F.row_number().over(w).alias("rn"),
        F.lag("doc_id").over(w).alias("prev_id"),
        F.first("doc_id").over(wg).alias("group_first"),
    )
    head = ranked.filter(F.col("rn") <= cap).select("band_idx", "band_sig", "doc_id")
    a = head.alias("a")
    b = head.alias("b")
    clique = (
        a.join(b, ["band_idx", "band_sig"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
    )
    tail = ranked.filter(F.col("rn") > cap)
    star = tail.filter(F.col("doc_id") != F.col("group_first")).select(
        F.col("group_first").alias("doc_a"), F.col("doc_id").alias("doc_b")
    )
    boundary = tail.filter(F.col("doc_id") == F.col("group_first")).select(
        F.least("prev_id", "doc_id").alias("doc_a"),
        F.greatest("prev_id", "doc_id").alias("doc_b"),
    )
    return clique.union(star).union(boundary).distinct()


def jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    n: int = 3,
    min_jaccard: float = 0.5,
    *,
    shingles_df: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity via inverted-index join.

    explode(shingles) → self-join on shingle → count common shingles per
    (doc_a, doc_b) → |A∩B| / (|A| + |B| − |A∩B|). The join key is the
    shingle, so only docs sharing content ever meet — no cross join.
    ``shingles_df``: share a precomputed (doc_id, sh) frame (see
    minhash_signatures.shingles_df)."""
    sh = shingles_df if shingles_df is not None else _doc_shingles(docs, text_col, n)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    common = (
        a.join(b, "sh")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    # FILTER on the unrounded ratio (matching the oracles' WHERE clause);
    # the 6-dp rounding is display-only — round(j, 6) >= t and j >= t
    # disagree for j in [t - 5e-7, t), which would flip boundary pairs.
    raw = F.col("n_common") / F.nullif(
        (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast("double"),
        F.lit(0.0),
    )
    return (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(raw >= F.lit(min_jaccard))
        .select(
            "doc_a", "doc_b", "n_common", F.round(raw, 6).alias("jaccard")
        )
    )


def verify_candidates(
    shingles_df: DataFrame,
    candidates: DataFrame,
    min_jaccard: float = 0.5,
) -> DataFrame:
    """Exact-Jaccard verification RESTRICTED to LSH candidate pairs — the
    production middle stage of the dedup pipeline (candidates → verify →
    clusters → keepers).

    ``jaccard_pairs`` intersects every co-shingled pair (any shared n-gram
    makes two docs meet), which is near-quadratic on a corpus with common
    boilerplate — exactly the blow-up LSH banding exists to avoid. This
    form starts FROM the candidate pairs instead: join each pair to doc_a's
    shingles, keep the ones doc_b also has (equi-join on (doc_b, sh)),
    count. Work is Σ_candidates |shingles(doc_a)| — linear in candidate
    volume, never in co-shingled-pair volume. Candidate pairs whose docs
    share no shingle (band-signature hash collisions) drop out naturally.

    Inputs: ``shingles_df`` (doc_id, sh), distinct per doc (share the
    pinned frame with the signature build); ``candidates`` (doc_a, doc_b)
    with doc_a < doc_b. The threshold filter uses the UNROUNDED ratio (the
    ``jaccard_pairs`` boundary-fix convention); the returned ``jaccard``
    column is display-rounded to 6 dp."""
    sizes = shingles_df.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    sh_a = shingles_df.select(F.col("doc_id").alias("doc_a"), "sh")
    sh_b = shingles_df.select(F.col("doc_id").alias("doc_b"), "sh")
    common = (
        candidates.join(sh_a, "doc_a")
        .join(sh_b, ["doc_b", "sh"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    raw = F.col("n_common") / F.nullif(
        (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast("double"),
        F.lit(0.0),
    )
    return (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(raw >= F.lit(min_jaccard))
        .select("doc_a", "doc_b", "n_common", F.round(raw, 6).alias("jaccard"))
    )


def near_dup_clusters(
    docs: DataFrame,
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    max_iter: int = 20,
) -> DataFrame:
    """Near-dup CLUSTERS: connected components over the LSH candidate
    graph, labeling every doc with the min doc_id reachable from it
    (cluster_id). The canonical keeper per cluster is doc_id == cluster_id.

    Iterative min-label propagation: each round every node takes the min
    of its own label and its neighbors' labels — converges in O(component
    diameter) rounds (near-dup components are shallow: transitively-similar
    boilerplate chains). Each round is one shuffle join + one groupBy;
    ``localCheckpoint`` truncates the lineage so the plan doesn't grow with
    iterations — the standard Spark shape for iterative algorithms. At
    extreme graph sizes, swap in large-star/small-star; the per-round
    operators are identical.
    """
    pairs = lsh_candidate_pairs(docs, text_col, n, num_hashes, bands)
    edges = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    nodes = docs.select("doc_id")
    return connected_components_minlabel(edges, nodes, max_iter)


def connected_components_minlabel(
    edges: DataFrame, nodes: DataFrame, max_iter: int = 20
) -> DataFrame:
    """Min-label propagation CC (see near_dup_clusters docstring): O(component
    diameter) rounds, each one shuffle join + one groupBy. ``edges`` is
    (src, dst) in any orientation; ``nodes`` is (doc_id)."""
    edges = (
        edges.select("src", "dst")
        .union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .transform(pin)  # iteration: every round's job joins it
    )
    labels = nodes.select("doc_id", F.col("doc_id").alias("cluster_id"))
    prev_sum = labels.agg(F.sum("cluster_id")).first()[0]
    for _ in range(max_iter):
        msgs = edges.join(
            labels.select(F.col("doc_id").alias("dst"), "cluster_id"), "dst"
        ).select(F.col("src").alias("doc_id"), "cluster_id")
        labels = (
            labels.union(msgs)
            .groupBy("doc_id")
            .agg(F.min("cluster_id").alias("cluster_id"))
            .transform(pin)  # iteration: cuts lineage once per round
        )
        cur_sum = labels.agg(F.sum("cluster_id")).first()[0]
        if cur_sum == prev_sum:  # labels only decrease; equal sum == fixpoint
            break
        prev_sum = cur_sum
    return labels


def connected_components_star(
    edges: DataFrame, nodes: DataFrame, max_iter: int = 30
) -> DataFrame:
    """Large-star/small-star CC (Kiveris et al., "Connected Components in
    MapReduce and Beyond") — converges in O(log n) ROUNDS regardless of
    component diameter, vs O(diameter) for min-label propagation. At 100 TB
    this is the difference between ~8 rounds and hundreds on chain-shaped
    components (transitive boilerplate edits, crawl-date chains).

    Each round is two star operations, each ONE groupBy(node) for the
    neighborhood min + one join back — the same per-round shuffle cost as
    one label-propagation step:

    - large-star: every node connects its LARGER neighbors to its
      neighborhood min  m = min(N(u) ∪ {u});
    - small-star: every node connects its smaller-or-equal neighbors (and
      itself) to m.

    Both emit edges (x, m) with m <= x, so the edge set monotonically
    flattens into stars centered on component minima; at fixpoint every
    node's min neighbor IS its component min. Labels read directly off the
    final edge set. Returns (doc_id, cluster_id = component min id).
    """

    def _adj(e: DataFrame) -> DataFrame:
        return e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))

    def _mins(adj: DataFrame) -> DataFrame:
        # m = min(N(u) ∪ {u}) per node
        return adj.groupBy("u").agg(F.min("v").alias("mn")).select(
            "u", F.least(F.col("u"), F.col("mn")).alias("m")
        )

    e = (
        edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .select(F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v"))
        .distinct()
        .transform(pin)  # iteration: round 1 and its fixpoint check read it
    )
    for _ in range(max_iter):
        # large-star: (v, m) for neighbors v > u — canonical (m, v) since m <= u < v
        adj = _adj(e)
        large = (
            adj.join(_mins(adj), "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("m").alias("u"), F.col("v").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # small-star on large's output: (v, m) for v <= u, plus (u, m)
        adj2 = _adj(large)
        with_m = adj2.join(_mins(adj2), "u")
        small = (
            with_m.filter(F.col("v") < F.col("u"))
            .select(F.col("m").alias("u"), F.col("v").alias("v"))
            .union(with_m.select(F.col("m").alias("u"), F.col("u").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .transform(pin)  # iteration: cuts lineage once per round
        )
        # fixpoint: the edge set is exactly reproduced (order-insensitive)
        if (
            small.count() == e.count()
            and small.exceptAll(e).limit(1).count() == 0
        ):
            e = small
            break
        e = small
    # at fixpoint every edge is (component_min, member): label = min partner
    member_min = _adj(e).groupBy("u").agg(F.min("v").alias("mn"))
    return (
        nodes.select("doc_id")
        .join(member_min.select(F.col("u").alias("doc_id"), "mn"), "doc_id", "left")
        .select(
            "doc_id",
            F.least(F.col("doc_id"), F.coalesce("mn", F.col("doc_id"))).alias(
                "cluster_id"
            ),
        )
    )


#: SimHash width: 60 bits (15 hex chars of md5) — stays inside a signed
#: 64-bit long so the bit arithmetic is ANSI-overflow-safe in both engines.
SIMHASH_BITS = 60


def simhash_signatures(docs: DataFrame, text_col: str = "text", n: int = 3) -> DataFrame:
    """60-bit SimHash per doc from shingle md5s.

    Bit i of the signature is the majority vote of bit i across the doc's
    shingle hashes. Uses conv(hex→dec) on the md5 prefix to get the integer,
    then per-bit sums — all built-in expressions (one explode + one
    groupBy; the 60 per-bit sums are partial-aggregatable)."""
    sh = _doc_shingles(docs, text_col, n)
    h = F.conv(F.substring(F.md5(F.col("sh")), 1, SIMHASH_BITS // 4), 16, 10).cast("long")
    sh = sh.select("doc_id", h.alias("h"))
    bit_sums = sh.groupBy("doc_id").agg(
        F.count("*").alias("n"),
        *[
            F.sum(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1))).alias(f"b{i}")
            for i in range(SIMHASH_BITS)
        ],
    )
    sig = F.lit(0).cast("long")
    for i in range(SIMHASH_BITS):
        sig = sig + F.when(
            F.col(f"b{i}") * 2 > F.col("n"), F.shiftleft(F.lit(1).cast("long"), i)
        ).otherwise(F.lit(0).cast("long"))
    return bit_sums.select("doc_id", sig.alias("simhash"))


def simhash_near_pairs(
    docs: DataFrame, text_col: str = "text", n: int = 3, max_hamming: int = 3
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance.

    Blocking: split the signature into 4 bands of 15 bits; pairs within
    Hamming ≤ 3 must agree exactly on ≥1 band (pigeonhole), so candidates
    come from a band-keyed self-join — no cross join — then exact Hamming
    via bit_count(xor) filters."""
    sigs = simhash_signatures(docs, text_col, n)
    band_width = SIMHASH_BITS // 4
    bands = sigs.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"),
                        F.shiftright(F.col("simhash"), b * band_width)
                        .bitwiseAND(F.lit((1 << band_width) - 1))
                        .alias("band_val"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "simhash", "band.band_idx", "band.band_val")
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(b, ["band_idx", "band_val"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )
