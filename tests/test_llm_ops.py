"""Semantic checks for the LLM-data operators beyond oracle parity:
sketch accuracy bounds, LSH recall against brute force, dedup findings on
the fixture's known near-dup structure, and the multimodal decode stub."""

from __future__ import annotations

import pytest

from bfs_etl_sep2025_spark import registry
from tests.conftest import SF_SMOKE

SF = "/root/testdata/sf0.01"


def _q(name):
    return registry.all_specs()[name].fn


def test_approx_count_distinct_within_rsd(spark):
    # r11: the bound check moved INTO the query (within_bound is what the
    # DuckDB oracle pins to TRUE); the test asserts the exact side is sane
    # and the sketch met its envelope on the fixture.
    rows = _q("agg_approx_count_distinct")(spark, SF).collect()
    assert rows and all(r.within_bound for r in rows)
    assert all(r.n_exact > 0 and r.n_rows >= r.n_exact for r in rows)


def test_approx_percentile_close_to_exact(spark):
    rows = _q("agg_approx_percentiles")(spark, SF).collect()
    assert rows and all(r.p50_ok and r.p90_ok for r in rows)
    assert all(r.n_rows > 0 for r in rows)


def test_minhash_estimates_track_true_jaccard(spark):
    """For pairs the LSH stage surfaces, the signature estimate must be in
    the neighborhood of the exact shingle Jaccard (16 hashes -> sd ~0.125)."""
    est = {
        (r.doc_a, r.doc_b): r.est_jaccard
        for r in _q("dedup_minhash_lsh_pairs")(spark, SF).collect()
    }
    assert est, "fixture is known to contain near-duplicate documents"
    true = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in _q("dedup_ngram_jaccard")(spark, SF).collect()
    }
    checked = 0
    for pair, e in est.items():
        if pair in true:
            assert abs(e - true[pair]) <= 0.4
            checked += 1
    assert checked > 0


def test_simhash_band_plan_finds_known_pairs(spark):
    """The banded simhash plan's pairs (oracle-verified identical to brute
    force) must include doc pairs that minhash also flags — independent
    sketches agreeing on the fixture's built-in duplicates."""
    sim = {(r.doc_a, r.doc_b) for r in _q("dedup_simhash_pairs")(spark, SF).collect()}
    mh = {(r.doc_a, r.doc_b) for r in _q("dedup_minhash_lsh_pairs")(spark, SF).collect()}
    assert sim and mh
    assert sim & mh, "independent near-dup sketches should overlap on true dupes"


def test_lsh_topk_subset_of_bruteforce_universe(spark):
    """Every LSH-returned neighbor must score exactly what brute force
    scores it (same query, same vec) — LSH may MISS neighbors, never
    invent or mis-rank them."""
    bf = {
        (r.query_id, r.vec_id): r.cosine
        for r in _q("similarity_topk_bruteforce")(spark, SF).collect()
    }
    lsh = _q("similarity_topk_lsh")(spark, SF).collect()
    assert lsh, "some query should share a bucket at sf0.01"
    for r in lsh:
        if (r.query_id, r.vec_id) in bf:
            assert bf[(r.query_id, r.vec_id)] == r.cosine


@pytest.mark.slow
def test_multitable_lsh_recall_dominates_single_table(spark):
    """The two-table union's candidate set is a superset of table A's, so
    per query its best-found cosine must be >= the single-table best."""
    single = {}
    for r in _q("similarity_topk_lsh")(spark, SF).collect():
        if r.rnk == 1:
            single[r.query_id] = r.cosine
    multi = {}
    for r in _q("similarity_topk_lsh_multitable")(spark, SF).collect():
        if r.rnk == 1:
            multi[r.query_id] = r.cosine
    # every query answered by table A alone is still answered, at least as well
    assert set(single) <= set(multi)
    for qid, c in single.items():
        assert multi[qid] >= c


def test_multimodal_decode_is_stubbed():
    """Only genuinely library-less codecs stay stubbed: an UNKNOWN format
    raises the honest STUB marker, while PPM, PNG and JPEG (lossless,
    baseline and progressive) decode for real (tests/test_codecs.py), and
    a JPEG stream without a frame header names the real cause."""
    from bfs_etl_sep2025_spark.operators.multimodal import decode_image

    with pytest.raises(NotImplementedError, match="STUB"):
        decode_image(b"ID3\x04" + bytes(16))  # an MP3's tag header
    with pytest.raises(ValueError, match="no frame header"):
        # valid JPEG APP0 prologue but the stream ends before any SOF
        decode_image(
            b"\xff\xd8\xff\xe0" + (16).to_bytes(2, "big") + bytes(14)
        )


def test_clusters_consistent_with_pairs(spark):
    """Every LSH pair must land in one cluster, and every multi-member
    cluster must be spanned by pairs (no invented merges)."""
    pairs = [
        (r.doc_a, r.doc_b)
        for r in _q("dedup_minhash_lsh_pairs")(spark, SF).collect()
    ]
    cluster_of = {
        r.doc_id: r.cluster_id
        for r in _q("dedup_minhash_clusters")(spark, SF).collect()
    }
    assert pairs and cluster_of
    for a, b in pairs:
        assert cluster_of[a] == cluster_of[b], f"pair ({a},{b}) split"
    # each cluster id is the min member (canonical labeling)
    from collections import defaultdict

    members = defaultdict(list)
    for doc, cid in cluster_of.items():
        members[cid].append(doc)
    for cid, docs in members.items():
        assert cid == min(docs)


def test_sample_seeded_deterministic_and_bounded(spark):
    a = _q("sample_seeded")(spark, SF).collect()
    b = _q("sample_seeded")(spark, SF).collect()
    assert a == b, "same seed + data must sample identically"
    assert 0.05 * 60000 < len(a) < 0.15 * 60000


def test_sample_seeded_oracle_parity(spark, duck):
    """The md5-threshold sample is engine-exact (VERDICT r5 item 2): the
    DuckDB oracle draws the IDENTICAL subset, not just a similar-sized one."""
    from bfs_etl_sep2025_spark.registry import all_specs
    from tests.conftest import assert_parity

    assert_parity(spark, duck, all_specs()["sample_seeded"])


def test_language_id_scores_populated(spark):
    rows = _q("text_language_id")(spark, SF).collect()
    assert len(rows) == 500
    assert any(r.best_score > 0 for r in rows)


@pytest.mark.parametrize(
    "name",
    [
        "graph_pagerank",
        "graph_connected_components",
        "graph_kcore",
        "graph_bfs_distances",
        "dedup_minhash_clusters",
    ],
)
def test_fixpoints_with_reliable_checkpoint_dir(spark, tmp_path, name):
    """With a checkpoint dir configured, every fixpoint loop cuts lineage
    with RELIABLE checkpoint() (files under the dir, which survive executor
    loss on a cluster) and yields the identical rows (VERDICT r3 item 4)."""
    import os

    before = [tuple(r) for r in _q(name)(spark, SF).collect()]
    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None
    ckpt = tmp_path / "ckpt"
    sc.setCheckpointDir(str(ckpt))
    try:
        after = [tuple(r) for r in _q(name)(spark, SF).collect()]
    finally:
        # scope the global setting to this test: later tests (and the
        # shared-session parity suite) keep the cheap localCheckpoint path
        setter = getattr(sc._jsc.sc(), "checkpointDir_$eq")
        setter(sc._jvm.scala.Option.empty())
    assert after == before and len(before) > 0
    assert any(files for _, _, files in os.walk(ckpt))
    assert sc.getCheckpointDir() is None


def test_ivf_assignment_matches_numpy_oracle(spark):
    """_ivf_assigner's BLAS argmax against an independent numpy replay on
    sf0.1's 40-cell codebook (sf0.01 has only 4 cells): every vector gets
    ranks 1..N_PROBE, and each rank's cell is the replay's, ranking cells
    by cosine DESC with ties to the smaller cell."""
    import numpy as np

    from bfs_etl_sep2025_spark.operators import similarity as sim
    from bfs_etl_sep2025_spark.tables import load

    e = load(spark, "/root/testdata/sf0.1", "embeddings")
    n = e.select(
        "vec_id", "embedding", sim._norm_arr("embedding").alias("nrm")
    )
    assign = sim._ivf_assigner(sim._codebook(n, sim.CENTROID_STRIDE))
    got = {}
    for r in assign(n).collect():
        got.setdefault(r.vec_id, {})[r.cr] = r.cell

    pdf = e.toPandas().sort_values("vec_id")
    ids = pdf.vec_id.to_numpy()
    V = np.stack(pdf.embedding.to_numpy())
    Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
    cent_mask = ids % sim.CENTROID_STRIDE == 0
    cells, C = ids[cent_mask], Vn[cent_mask]
    assert len(cells) == 40
    S = Vn @ C.T
    want = {
        vid: {
            rank + 1: cells[j]
            for rank, j in enumerate(np.lexsort((cells, -S[i]))[: sim.N_PROBE])
        }
        for i, vid in enumerate(ids)
    }
    assert got.keys() == want.keys()  # every vector assigned
    mismatches = {v: (got[v], want[v]) for v in want if got[v] != want[v]}
    assert not mismatches, f"{len(mismatches)} mismatches: {mismatches}"


@pytest.mark.parametrize(
    "name", ["similarity_incremental_ivf", "dedup_incremental_semantic"]
)
def test_incremental_ann_broadcasts_its_codebook_once(spark, monkeypatch, name):
    """An incremental ANN query collects and broadcasts its fixed codebook
    once per run and assigns all three arrival batches (and, for the IVF
    index, its probes) against that one broadcast."""
    from pyspark import SparkContext

    codebooks = []
    real = SparkContext.broadcast

    def spy(sc, value):
        if isinstance(value, tuple):  # (cells, unit-norm codebook.T)
            codebooks.append(value)
        return real(sc, value)

    monkeypatch.setattr(SparkContext, "broadcast", spy)
    assert _q(name)(spark, SF).collect()
    assert len(codebooks) == 1


def _bpe_ref_merge(sym, l, r):
    """Greedy left-to-right non-overlapping pair merge — the same semantics
    as the padded-string literal replace in bpe_train_merges."""
    out, i = [], 0
    while i < len(sym):
        if i + 1 < len(sym) and sym[i] == l and sym[i + 1] == r:
            out.append(l + r)
            i += 2
        else:
            out.append(sym[i])
            i += 1
    return tuple(out)


def _bpe_load_vocab(sf):
    from collections import Counter

    import pyarrow.parquet as pq

    texts = (
        pq.read_table(sf + "/documents.parquet", columns=["text"])
        .column("text")
        .to_pylist()
    )
    vocab: Counter = Counter()
    for t in texts:
        for w in (t or "").split(" "):
            if w:
                vocab[tuple(w)] += 1
    return vocab


def _bpe_sequential_reference(vocab, n_merges):
    """Sennrich 2016 sequential greedy: one merge per pair-stats pass,
    tie-break (count DESC, lexicographically smallest pair)."""
    from collections import Counter

    expected = []
    for rank in range(1, n_merges + 1):
        pairs: Counter = Counter()
        for sym, c in vocab.items():
            for a, b in zip(sym, sym[1:]):
                pairs[(a, b)] += c
        if not pairs:
            break
        (l, r), n = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        expected.append((rank, l, r, l + r, n))
        nv: Counter = Counter()
        for sym, c in vocab.items():
            nv[_bpe_ref_merge(sym, l, r)] += c
        vocab = nv
    return expected


def _bpe_batched_reference(vocab, n_merges, batch):
    """Pure-Python mirror of the r11 batched trainer: per round, rank the
    pair stats once, accept up to ``batch`` non-conflicting pairs (skip any
    sharing a symbol with an accepted one), apply them in acceptance order,
    report round-start counts."""
    from collections import Counter

    merges = []
    while len(merges) < n_merges:
        pairs: Counter = Counter()
        for sym, c in vocab.items():
            for a, b in zip(sym, sym[1:]):
                pairs[(a, b)] += c
        if not pairs:
            break
        ranked = sorted(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        ranked = ranked[: max(64, 8 * batch)]
        cap = min(batch, n_merges - len(merges))
        chosen, used = [], set()
        for (l, r), n in ranked:
            if len(chosen) >= cap:
                break
            if l in used or r in used:
                continue
            chosen.append((l, r, n))
            used.update((l, r))
        for l, r, n in chosen:
            merges.append((len(merges) + 1, l, r, l + r, n))
            nv: Counter = Counter()
            for sym, c in vocab.items():
                nv[_bpe_ref_merge(sym, l, r)] += c
            vocab = nv
    return merges


def test_bpe_train_matches_python_reference(spark):
    """Exact-sequence parity of the distributed batched BPE trainer with a
    pure in-memory reference of the SAME locally-greedy batched algorithm
    (r11), plus the sequential-greedy invariants the batching preserves:
    the first merge of the run is sequential-greedy's first merge (the
    text_bpe_first_merge oracle), and batch=1 degenerates to the exact
    Sennrich sequential sequence."""
    from bfs_etl_sep2025_spark.operators.text import (
        BPE_BATCH,
        BPE_N_MERGES,
        bpe_train_merges,
    )

    sf = "/root/testdata/sf0.001"
    seq = _bpe_sequential_reference(_bpe_load_vocab(sf), BPE_N_MERGES)
    batched = _bpe_batched_reference(
        _bpe_load_vocab(sf), BPE_N_MERGES, BPE_BATCH
    )
    got = bpe_train_merges(spark, sf)
    assert got == batched
    # merge 1 is the global argmax in both regimes
    assert got[0] == seq[0]
    # the degenerate batch reproduces sequential greedy exactly
    assert bpe_train_merges(spark, sf, n_merges=6, batch=1) == seq[:6]


def test_pq_codes_structure_and_shortlist_recall(spark):
    """PQ encode emits one code per (vector, subspace) in [0, KS); the
    ADC shortlist's exact rerank must place the true brute-force nearest
    neighbor at rank 1 for at least half the queries on this fixture
    (PQ is approximate — the bound is a smoke floor, not a spec)."""
    from bfs_etl_sep2025_spark import registry
    from bfs_etl_sep2025_spark.operators.similarity import PQ_KS, PQ_M

    sf = "/root/testdata/sf0.001"
    pq = registry.all_specs()["similarity_ann_pq"].fn(spark, sf).collect()
    assert {r["rnk"] for r in pq} == {1, 2, 3}
    bf = (
        registry.all_specs()["similarity_topk_bruteforce"]
        .fn(spark, sf)
        .collect()
    )
    true_nn = {r["query_id"]: r["vec_id"] for r in bf if r["rnk"] == 1}
    pq_nn = {r["query_id"]: r["vec_id"] for r in pq if r["rnk"] == 1}
    common = set(true_nn) & set(pq_nn)
    assert common
    hits = sum(1 for q in common if true_nn[q] == pq_nn[q])
    assert hits * 2 >= len(common), (hits, len(common))


def test_bpe_apply_matches_python_tokenizer(spark):
    """Applying the learned merges distributedly yields the same per-doc
    token counts as the pure-Python tokenizer (train + greedy apply)."""
    from collections import Counter

    import pyarrow.parquet as pq

    from bfs_etl_sep2025_spark import registry
    from bfs_etl_sep2025_spark.operators.text import bpe_train_merges

    sf = "/root/testdata/sf0.001"
    merges = bpe_train_merges(spark, sf)
    tbl = pq.read_table(
        sf + "/documents.parquet", columns=["doc_id", "text"]
    ).to_pylist()

    def tokenize(word):
        sym = tuple(word)
        for _, l, r, _, _ in merges:
            sym = _bpe_ref_merge(sym, l, r)
        return len(sym)

    cache: dict = {}
    expected = {}
    for row in tbl:
        n = 0
        for w in (row["text"] or "").split(" "):
            if w:
                if w not in cache:
                    cache[w] = tokenize(w)
                n += cache[w]
        expected[row["doc_id"]] = n
    got = (
        registry.all_specs()["text_bpe_apply"].fn(spark, sf).collect()
    )
    assert {r["doc_id"]: r["n_bpe_tokens"] for r in got} == expected
    for r in got:
        assert r["n_chars"] > 0
        assert abs(r["chars_per_token"] - r["n_chars"] / r["n_bpe_tokens"]) == 0.0


def test_bpe_merge_regex_matches_reference_on_adversarial_words(spark):
    """The separator-preserving merge regex must equal canonical greedy
    BPE on back-to-back pair repeats (abab/aaa — where a literal
    SEP+l+SEP+r+SEP replace consumes the shared separator and skips every
    other occurrence) and on symbols containing regex metacharacters."""
    from pyspark.sql import functions as F

    from bfs_etl_sep2025_spark.operators.text import (
        _BPE_SEP,
        _merge_pattern,
        _merge_replacement,
    )

    cases = [
        (("a", "b"), ["abab", "ababab", "xabab", "ababx", "ab"]),
        (("a", "a"), ["aa", "aaa", "aaaa", "aaaaa", "baaab"]),
        (("$", "("), ["$($(", "x$((", "$(", "(($"]),
        (("ab", "a"), ["abaaba", "aba"]),  # multi-char left symbol
    ]
    for (l, r), words in cases:
        rows = []
        for w in words:
            sym = tuple(w) if len(l) == 1 and len(r) == 1 else None
            # seed symbols: chars, except the multi-char case seeds 'ab'
            if sym is None:
                seed, out, i = [], [], 0
                s0 = tuple(w)
                s0 = _bpe_ref_merge(s0, "a", "b")  # pre-merge ab
                sym = s0
            expected = _bpe_ref_merge(sym, l, r)
            padded = _BPE_SEP + _BPE_SEP.join(sym) + _BPE_SEP
            rows.append((w, padded, _BPE_SEP.join(expected)))
        df = spark.createDataFrame(rows, "w STRING, p STRING, want STRING")
        got = df.select(
            "w",
            "want",
            F.regexp_replace(
                "p", _merge_pattern(l, r), _merge_replacement(l, r)
            ).alias("g"),
        ).collect()
        for row in got:
            inner = row["g"].strip(_BPE_SEP)
            assert inner == row["want"], (l, r, row["w"], inner, row["want"])


@pytest.mark.slow
def test_multitable_lsh_dominates_single_table_recall(spark):
    """The multitable variant exists to buy recall: for every query, the
    union of two independent hyperplane tables must retrieve a SUPERSET of
    the single-table bucket's candidates, and the recall harness must
    agree — multitable candidate hits >= single-table hits against the
    same exact top-10 truth."""
    from bfs_etl_sep2025_spark.operators.similarity import (
        similarity_recall_lsh,
        similarity_topk_lsh,
        similarity_topk_lsh_multitable,
    )

    sf = "/root/testdata/sf0.01"
    single = {
        (r["query_id"], r["rnk"]): r["cosine"]
        for r in similarity_topk_lsh(spark, sf).collect()
    }
    multi = {
        (r["query_id"], r["rnk"]): r["cosine"]
        for r in similarity_topk_lsh_multitable(spark, sf).collect()
    }
    rec = {
        r["query_id"]: (r["n_hit"], r["n_cand"])
        for r in similarity_recall_lsh(spark, sf).collect()
    }
    assert len(rec) == 20
    # the harness's candidate counts are consistent with the single-table
    # query's bucket join: every single-table result pair came from a
    # bucket the harness counted
    from collections import Counter

    per_q = Counter(q for q, _ in single)
    for q, n in per_q.items():
        assert rec[q][1] >= n, (q, n, rec[q])
    # top-3 MEMBERSHIP may reshuffle (extra candidates displace weaker
    # ones — that is the point), but a candidate UNION can only improve
    # the score at every rank: multitable's rank-i cosine >= single's
    for key, cos_single in single.items():
        assert key in multi, key
        assert multi[key] >= cos_single, (key, multi[key], cos_single)
    # and somewhere it strictly improved (the second table caught a
    # neighbor the first table's bucket missed)
    assert any(multi[k] > v for k, v in single.items())


def test_cosine_neardup_blocked_path_matches_oracle(spark, duck):
    """The blocked-GEMM all-pairs rewrite (r8) has TWO tile regimes: the
    sf0.01 oracle gate only exercises the diagonal tile (one block).
    Shrink the tile width so the same fixture fans out over many blocks —
    diagonal AND cross tiles — and the result must still match the
    brute-force oracle exactly (candidate containment + exact rerank)."""
    import bfs_etl_sep2025_spark.operators.similarity as sim

    spec = registry.all_specs()["similarity_cosine_neardup"]
    old = sim._GEMM_TILE
    sim._GEMM_TILE = 257  # 500 ids -> 2 blocks, 3 tile pairs
    try:
        got = spec.fn(spark, SF).toPandas()
    finally:
        sim._GEMM_TILE = old
    want = duck.execute(spec.oracle).fetchdf()
    cols = sorted(got.columns)
    gs = (
        got.reindex(cols, axis=1).astype(str).sort_values(cols)
        .reset_index(drop=True)
    )
    ws = (
        want.reindex(cols, axis=1).astype(str).sort_values(cols)
        .reset_index(drop=True)
    )
    assert len(gs) == len(ws)
    assert gs.equals(ws)


def test_cosine_neardup_sparse_64bit_ids(spark, tmp_path):
    """ADVICE r8 (medium): the r8 shape derived the block count from
    max(vec_id) VALUE and materialized O(nb²) block pairs driver-side — a
    sparse/offset 64-bit id space made that list astronomically large. The
    r9 rewrite blocks on a count-derived hash assignment, so offsetting
    every id by 2^40 must change nothing but the id values: same pair set
    (shifted), nb stays ceil(count/block), and the run completes at
    fixture scale. Also pins the empty-table early return."""
    import duckdb

    import bfs_etl_sep2025_spark.operators.similarity as sim

    src = "/root/testdata/sf0.001/embeddings.parquet"
    sparse = str(tmp_path / "sparse")
    (tmp_path / "sparse").mkdir()
    duckdb.execute(
        f"""
        COPY (SELECT vec_id + 1099511627776 AS vec_id, embedding
              FROM read_parquet('{src}'))
        TO '{sparse}/embeddings.parquet' (FORMAT PARQUET)
        """
    )
    spec = registry.all_specs()["similarity_cosine_neardup"]
    old = sim._GEMM_TILE
    sim._GEMM_TILE = 101  # force multi-block even at sf0.001
    try:
        got = spec.fn(spark, sparse).toPandas()
        base = spec.fn(spark, "/root/testdata/sf0.001").toPandas()
    finally:
        sim._GEMM_TILE = old
    assert len(got) == len(base)
    got_shift = got.assign(
        vec_a=got.vec_a - 1099511627776, vec_b=got.vec_b - 1099511627776
    )
    key = ["vec_a", "vec_b"]
    gs = got_shift.sort_values(key).reset_index(drop=True)
    bs = base.sort_values(key).reset_index(drop=True)
    assert gs[key].equals(bs[key])
    assert (gs.cosine.to_numpy() == bs.cosine.to_numpy()).all()

    # empty-table guard: zero rows in, schema-stable zero rows out
    empty = str(tmp_path / "empty")
    (tmp_path / "empty").mkdir()
    duckdb.execute(
        f"""
        COPY (SELECT vec_id, embedding FROM read_parquet('{src}') WHERE 0=1)
        TO '{empty}/embeddings.parquet' (FORMAT PARQUET)
        """
    )
    out = spec.fn(spark, empty)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["vec_a", "vec_b", "cosine"]


def test_lsh_neardup_contained_in_exact_with_equal_cosines(spark):
    """The production LSH route's contract against its exact baseline:
    every pair similarity_lsh_neardup emits must appear in
    similarity_cosine_neardup with a BIT-IDENTICAL cosine (same ordered
    fold re-scores both), and on the fixture the 8-bit bucket must
    actually find at least one of the exact pairs (non-vacuous recall)."""
    exact = (
        registry.all_specs()["similarity_cosine_neardup"]
        .fn(spark, SF)
        .toPandas()
    )
    lsh = (
        registry.all_specs()["similarity_lsh_neardup"]
        .fn(spark, SF)
        .toPandas()
    )
    exact_map = {
        (r.vec_a, r.vec_b): r.cosine for r in exact.itertuples()
    }
    assert len(lsh) > 0, "8-bit bucket found no near-dup pair at all"
    for r in lsh.itertuples():
        assert (r.vec_a, r.vec_b) in exact_map
        assert exact_map[(r.vec_a, r.vec_b)] == r.cosine


def test_threshold_sweep_lsh_contained_in_exact(spark):
    """The LSH sweep's histogram is the LSH-visible portion of the exact
    curve: per-bucket counts never exceed the exact sweep's, and recall
    concentrates where dedup thresholds actually live (the >=0.45 region
    — banding probability rises with cosine)."""
    lsh = {
        r.bucket: r.n_pairs
        for r in _q("similarity_threshold_sweep_lsh")(spark, SF).collect()
    }
    exact = {
        r.bucket: r.n_pairs
        for r in _q("similarity_threshold_sweep")(spark, SF).collect()
    }
    assert lsh and exact
    for b, n in lsh.items():
        assert n <= exact[b], (b, n, exact[b])
    hi_lsh = sum(n for b, n in lsh.items() if b in ("0.45-0.50", "0.50+"))
    hi_exact = sum(n for b, n in exact.items() if b in ("0.45-0.50", "0.50+"))
    assert hi_exact > 0 and hi_lsh / hi_exact >= 0.5
    assert sum(lsh.values()) / sum(exact.values()) >= 0.2


def test_incremental_semantic_equals_full_rescan(spark):
    """The incremental SemDeDup store (three id-ordered syncs) must reach
    the exact verdicts of the one-pass full-rescan query: same removed
    set, same smallest-id exemplar per removed doc — the incremental ==
    rescan equivalence, checked engine-side (the DuckDB oracle re-proves
    it externally)."""
    inc = {
        r.vec_id: r.exemplar
        for r in _q("dedup_incremental_semantic")(spark, SF).collect()
        if r.near_dup
    }
    full = {
        r.vec_id_removed: r.kept_exemplar
        for r in _q("dedup_semantic_embedding")(spark, SF).collect()
    }
    assert inc, "fixture is known to contain semantic near-duplicates"
    assert inc == full


#: the near-duplicate queries whose candidates come from gemm_pairs, keyed
#: by candidate generator: (module that calls gemm_pairs, query)
_GEMM_GENERATORS = {
    "exact": ("similarity", "similarity_cosine_neardup"),
    "lsh_bands": ("similarity", "similarity_lsh_neardup"),
    "semdedup_cells": ("similarity", "dedup_semantic_embedding"),
    "incremental_delta": ("incremental", "dedup_incremental_semantic"),
}


def _gemm_candidates(spark, monkeypatch, generator):
    """Run the generator's query, recording each gemm_pairs call's sorted
    candidate rows and executed plan."""
    import importlib

    import bfs_etl_sep2025_spark.operators.similarity as sim

    mod, name = _GEMM_GENERATORS[generator]
    module = importlib.import_module(f"bfs_etl_sep2025_spark.operators.{mod}")
    real, calls = sim.gemm_pairs, []

    def spy(*args, **kwargs):
        out = real(*args, **kwargs)
        plan = out._jdf.queryExecution().executedPlan().toString()
        calls.append((sorted(tuple(r) for r in out.collect()), plan))
        return out

    with monkeypatch.context() as mp:
        mp.setattr(module, "gemm_pairs", spy)
        registry.all_specs()[name].fn(spark, SF_SMOKE).collect()
    return calls


@pytest.mark.parametrize("generator", sorted(_GEMM_GENERATORS))
def test_gemm_pairs_forced_tiles_identical(spark, monkeypatch, generator):
    """A 7-row tile splits every group (the whole table, each LSH band
    bucket, each SemDeDup cell, each incremental sync's cells) into many
    sub-blocks: the candidate set must equal the default tile's, and the
    tile pairs must be enumerated on executors, never shipped from a
    driver-built list (a LocalTableScan in the plan)."""
    import bfs_etl_sep2025_spark.operators.similarity as sim

    base = _gemm_candidates(spark, monkeypatch, generator)
    monkeypatch.setattr(sim, "_GEMM_TILE", 7)
    forced = _gemm_candidates(spark, monkeypatch, generator)
    assert [c for c, _ in forced] == [c for c, _ in base]
    assert any(c for c, _ in base)  # the fixture has near-dup candidates
    for _, plan in forced:
        assert "LocalTableScan" not in plan, plan


def test_gemm_exchange_is_keyed_on_tiles(spark):
    """Balancing is at the tile level: the kernel's one exchange
    hash-partitions on the group AND tile keys, so one large LSH bucket
    spreads over many tasks, and the kernel's groupBy reuses that
    partitioning. The exchange has no fixed width — AQE sizes it, the one
    policy for every gemm_pairs consumer."""
    import re

    from bfs_etl_sep2025_spark.operators.similarity import (
        _lsh_band_candidates,
    )

    n, cand = _lsh_band_candidates(spark, SF_SMOKE, 0.45)
    plan = cand._jdf.queryExecution().executedPlan().toString()
    assert re.search(
        r"hashpartitioning\(bno#\d+, band#\d+, __ta#\d+, __tb#\d+", plan
    ), plan
    assert plan.count("hashpartitioning(bno#") == 2, plan  # pop + tiles
    assert "REPARTITION_BY_NUM" not in plan, plan


@pytest.mark.parametrize(
    "name",
    [
        "similarity_cosine_neardup",
        "similarity_threshold_sweep",
        "similarity_lsh_neardup",
        "similarity_threshold_sweep_lsh",
        "dedup_semantic_embedding",
        "dedup_incremental_semantic",
    ],
)
def test_zero_norm_embedding_raises(spark, tmp_path, name):
    """A zero vector has no cosine, and numpy's NaN >= tau is False where
    Spark and DuckDB order NaN above every number: every consumer of the
    GEMM prefilter must raise instead of silently dropping its pairs."""
    import duckdb

    src = f"{SF_SMOKE}/embeddings.parquet"
    duckdb.execute(
        f"""
        COPY (SELECT vec_id,
                     CASE WHEN vec_id = 7
                          THEN list_transform(embedding, x -> 0.0::FLOAT)
                          ELSE embedding END AS embedding
              FROM read_parquet('{src}'))
        TO '{tmp_path}/embeddings.parquet' (FORMAT PARQUET)
        """
    )
    with pytest.raises(Exception, match="zero-norm embedding reached a GEMM"):
        _q(name)(spark, str(tmp_path)).collect()


def test_single_thread_blas_idempotent():
    """The BLAS pin the GEMM kernels call is callable repeatedly from any
    process state; after the first call the thread-count env contract
    holds for late numpy imports."""
    import os

    from bfs_etl_sep2025_spark.functions.blas import single_thread_blas

    single_thread_blas()
    single_thread_blas()
    assert os.environ.get("OPENBLAS_NUM_THREADS", "1") == "1"


@pytest.mark.parametrize("first", [1, 2])
def test_window_scan_matches_python_windows_at_segment_edges(spark, first):
    """The span-dedup window scan hoists one text segment per ``_CDC_SEG``
    positions; every doc length around a segment edge (and a doc of
    multi-byte characters, since Spark's substring counts code points)
    must yield exactly Python's windows, and docs shorter than the
    window yield none."""
    import random

    from bfs_etl_sep2025_spark.operators.corpus import (
        _CDC_SEG,
        _CDC_W,
        _window_scan,
    )

    width = _CDC_W
    lengths = [
        width - 1,
        width,
        width + 1,
        _CDC_SEG + width - 2,
        _CDC_SEG + width - 1,
        _CDC_SEG + width,
        2 * _CDC_SEG + width + 3,
    ]
    rng = random.Random(7)
    texts = ["".join(rng.choice("abcd ") for _ in range(n)) for n in lengths]
    texts.append(
        "".join(rng.choice("aé中😀 ") for _ in range(_CDC_SEG + width + 5))
    )
    docs = spark.createDataFrame(
        [(i, t, len(t)) for i, t in enumerate(texts)],
        "doc_id bigint, text string, n_chars bigint",
    )
    got: dict[int, list] = {i: [] for i in range(len(texts))}
    for r in _window_scan(docs, width, first).collect():
        got[r["doc_id"]].append((r["p"], r["w"]))
    for i, t in enumerate(texts):
        want = [
            (p, t[p - 1 : p - 1 + width])
            for p in range(first, len(t) - width + 2)
        ]
        assert sorted(got[i]) == want, (i, len(t))
