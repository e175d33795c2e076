"""Dedup operator tests vs pure-Python oracles on seeded corpora."""

import numpy as np
import pytest
from pyspark.sql import functions as F


def _persisted_ids(spark):
    """ids of currently-persisted RDDs (set — survives concurrent GC
    of unrelated tests' blocks, unlike a size comparison)."""
    jmap = spark.sparkContext._jsc.sc().getPersistentRDDs()
    it = jmap.keysIterator()
    ids = set()
    while it.hasNext():
        ids.add(it.next())
    return ids


def _corpus(spark, n_base=40, seed=3):
    """Synthetic corpus with planted near-duplicates."""
    rng = np.random.RandomState(seed)
    vocab = ["alpha", "bravo", "charlie", "delta", "echo", "foxtrot",
             "golf", "hotel", "india", "juliet", "kilo", "lima"]
    rows = []
    did = 0
    for i in range(n_base):
        words = [vocab[rng.randint(len(vocab))] for _ in range(30)]
        text = " ".join(words)
        rows.append((did, text)); did += 1
        if i % 4 == 0:  # exact duplicate
            rows.append((did, text)); did += 1
        if i % 5 == 0:  # near duplicate: mutate 2 words
            w2 = list(words)
            w2[3], w2[17] = "zulu", "yankee"
            rows.append((did, " ".join(w2))); did += 1
    return spark.createDataFrame(rows, "doc_id long, text string")


def _exact_jaccard(a: str, b: str, k: int = 5) -> float:
    sa = {a.lower()[i:i + k] for i in range(len(a) - k + 1)}
    sb = {b.lower()[i:i + k] for i in range(len(b) - k + 1)}
    if not sa and not sb:
        return 1.0
    return len(sa & sb) / len(sa | sb)


def test_exact_dedup_groups(spark):
    from cdap_geo_spark.operators.dedup import exact_dedup, exact_survivors
    df = _corpus(spark).cache()
    pdf = df.toPandas()
    groups = exact_dedup(df).toPandas()
    # oracle: group texts in pandas
    want = pdf.groupby(pdf.text.str.lower().str.strip())["doc_id"] \
              .agg(["min", "count"])
    assert len(groups) == len(want)
    assert groups.n_docs.sum() == len(pdf)
    got_keepers = set(groups.keeper)
    assert got_keepers == set(want["min"])
    assert exact_survivors(df).count() == len(want)


def test_minhash_lsh_pairs_precision_and_recall(spark):
    from cdap_geo_spark.operators.dedup import minhash_lsh_pairs
    df = _corpus(spark).cache()
    pdf = df.toPandas()
    got = minhash_lsh_pairs(df, threshold=0.6, num_perm=64, bands=16,
                            k=5).toPandas()
    got_pairs = set(zip(got.id_a, got.id_b))
    # oracle: all pairs with exact jaccard >= 0.6
    texts = dict(zip(pdf.doc_id, pdf.text))
    want = set()
    ids = sorted(texts)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            if _exact_jaccard(texts[a], texts[b]) >= 0.6:
                want.add((a, b))
    # precision is exact (verified), recall high on near-identical docs
    assert got_pairs <= want
    assert len(got_pairs) >= 0.9 * len(want)
    # verified (inter, uni) counts match the oracle measure
    for r in got.itertuples():
        assert r.inter / r.uni == pytest.approx(
            _exact_jaccard(texts[r.id_a], texts[r.id_b]))


def test_simhash_pairs_find_near_dups(spark):
    from cdap_geo_spark.operators.dedup import simhash_pairs
    df = _corpus(spark).cache()
    got = simhash_pairs(df, max_hamming=3).toPandas()
    pdf = df.toPandas()
    texts = dict(zip(pdf.doc_id, pdf.text))
    # every exact-duplicate pair has hamming 0 and must be found
    exact_pairs = set()
    by_text = {}
    for i, t in texts.items():
        by_text.setdefault(t, []).append(i)
    for ids in by_text.values():
        for i, a in enumerate(ids):
            for b in ids[i + 1:]:
                exact_pairs.add((min(a, b), max(a, b)))
    got_pairs = set(zip(got.id_a, got.id_b))
    assert exact_pairs <= got_pairs
    assert (got.hamming <= 3).all()


def test_ngram_jaccard_exact_counts(spark):
    from cdap_geo_spark.operators.dedup import ngram_jaccard_pairs
    df = _corpus(spark, n_base=12).cache()
    pdf = df.toPandas()
    got = ngram_jaccard_pairs(df, k=3, threshold_pct=50).toPandas()
    texts = dict(zip(pdf.doc_id, pdf.text))

    def sh3(t):
        t = t.lower()
        return {t[i:i + 3] for i in range(len(t) - 2)}
    for r in got.itertuples():
        sa, sb = sh3(texts[r.id_a]), sh3(texts[r.id_b])
        assert r.inter == len(sa & sb)
        assert r.uni == len(sa | sb)
    # completeness: no qualifying pair missing
    ids = sorted(texts)
    want = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            sa, sb = sh3(texts[a]), sh3(texts[b])
            if 100 * len(sa & sb) >= 50 * len(sa | sb):
                want.add((a, b))
    assert set(zip(got.id_a, got.id_b)) == want


def test_dedup_pipelines_leak_no_persisted_rdds(spark):
    # round-2 wrong #4: minhash/simhash persisted relations and never
    # released them. The round-4 pipelines DO checkpoint each
    # fingerprint relation (materialize-once; ReuseExchange does not
    # cover the Arrow stages), but every checkpoint is tracked and a
    # checkpoint_scope releases the blocks deterministically once the
    # results are materialized — the storage registry must return to
    # its baseline after the scope closes.
    from cdap_geo_spark.core.lifetime import checkpoint_scope
    from cdap_geo_spark.operators.dedup import (minhash_lsh_pairs,
                                                ngram_jaccard_pairs,
                                                simhash_pairs)
    df = _corpus(spark, n_base=10)
    before = _persisted_ids(spark)
    with checkpoint_scope():
        minhash_lsh_pairs(df, threshold=0.5).count()
        simhash_pairs(df, max_hamming=3).count()
        ngram_jaccard_pairs(df, k=3, threshold_pct=50).count()
        inside = _persisted_ids(spark)
        # bounded while working: one fingerprint relation per pipeline
        # (+1 prefix relation for the jaccard path)
        assert len(inside - before) <= 4
    # ids born inside the scope must not survive it (GC may concurrently
    # collect OTHER tests' blocks, so compare id sets, not counts)
    assert _persisted_ids(spark) - before == set()


def test_knn_and_components_checkpoints_release_in_scope(spark):
    # the components labels DEPEND on their final checkpoint, which the
    # scope releases once the caller materializes inside it; knn_join
    # leaves no persisted or checkpointed block behind on any route
    import pandas as pd

    from cdap_geo_spark.core.lifetime import checkpoint_scope
    from cdap_geo_spark.operators.dedup import dedup_components
    from cdap_geo_spark.operators.knn import knn_join

    before = _persisted_ids(spark)
    with checkpoint_scope():
        pairs = spark.createDataFrame(
            pd.DataFrame({"id_a": ["a", "b", "x"],
                          "id_b": ["b", "c", "y"]}))
        comp = dedup_components(pairs)
        assert comp.count() == 5
        from cdap_geo_spark import docs as D
        from cdap_geo_spark import fixtures
        corpus = D.with_geometry(fixtures.documents(spark, 120)) \
                  .select("doc_id", "geometry")
        queries = fixtures.knn_queries(spark, 3)
        for kw in ({"broadcast_queries": True},
                   {"broadcast_queries": False}, {"how": "box"}):
            held = _persisted_ids(spark)
            got = knn_join(queries, corpus, k=3, level=9,
                           require_points=False, **kw)
            assert _persisted_ids(spark) - held == set(), kw
            assert got.count() == 9
    assert _persisted_ids(spark) - before == set()


def test_checkpoint_scope_is_thread_isolated(spark):
    # Spark drivers submit jobs from several threads; a scope on one
    # thread must never release checkpoints another thread created
    import threading

    from cdap_geo_spark.core.lifetime import (checkpoint_scope,
                                              release_checkpoints,
                                              track_checkpoint)

    before = _persisted_ids(spark)
    other: dict = {}

    def worker():
        mine_before = _persisted_ids(spark)
        df = track_checkpoint(spark.range(10).localCheckpoint())
        other["ids"] = _persisted_ids(spark) - mine_before
        assert df.count() == 10

    with checkpoint_scope():
        track_checkpoint(spark.range(5).localCheckpoint()).count()
        t = threading.Thread(target=worker)
        t.start()
        t.join()
    # the worker thread's checkpoint must SURVIVE the main scope
    assert other["ids"] & _persisted_ids(spark) == other["ids"]
    # ...until its own thread releases it
    t2 = threading.Thread(target=release_checkpoints)
    t2.start()
    t2.join()
    # worker tracked on its own registry, so main-thread release is a
    # no-op for it; t2 ran release on a THIRD thread (empty registry),
    # so the block is still alive — release it via the live map
    from cdap_geo_spark.core.lifetime import _release
    _release(other["ids"])
    assert _persisted_ids(spark) & other["ids"] == set()


def test_simhash_native_matches_python_band_structure(spark):
    # the native-md5 pipeline and the Python splitmix path must agree
    # on the PAIR SET for planted near-dups (hash family differs, the
    # banded-candidate + hamming-verify semantics must not)
    from cdap_geo_spark.operators.dedup import simhash_pairs
    df = _corpus(spark, n_base=8)
    native = simhash_pairs(df, max_hamming=0)
    python = simhash_pairs(df, max_hamming=0, token_hash="splitmix")
    # hamming 0 = identical token multiset votes -> exact dup pairs,
    # which both hash families must find identically
    a = {(r.id_a, r.id_b) for r in native.collect()}
    b = {(r.id_a, r.id_b) for r in python.collect()}
    assert a == b


def test_dedup_components_chain_and_survivors(spark):
    # a chain 1-2-3-4 plus an isolated pair 10-11: propagation must
    # cross the whole chain (diameter > 1 round), min id labels all
    from cdap_geo_spark.operators.dedup import (
        dedup_components, dedup_survivors_by_components)
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "id_a long, id_b long")
    got = {r.node: r.component for r in dedup_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}
    docs = spark.createDataFrame([(i, f"t{i}") for i in
                                  [1, 2, 3, 4, 7, 10, 11]],
                                 "doc_id long, text string")
    surv = sorted(r.doc_id for r in
                  dedup_survivors_by_components(docs, pairs).collect())
    # keepers: 1 (chain), 10 (pair), 7 (no pairs)
    assert surv == [1, 7, 10]


def test_dedup_components_long_path_converges_in_log_rounds(spark):
    # a 200-node path has diameter 199: plain min-label propagation
    # would need ~199 rounds; the pointer-jumping shortcut must close
    # it well inside the default max_rounds=50 (expected ~log2(199)+e)
    from cdap_geo_spark.operators.dedup import dedup_components
    n = 200
    pairs = spark.createDataFrame([(i, i + 1) for i in range(n - 1)],
                                  "id_a long, id_b long")
    got = dedup_components(pairs, max_rounds=16)
    comps = {r.component for r in got.collect()}
    assert comps == {0}


def test_dedup_components_never_returns_wrong_labels_silently(spark):
    import pytest
    from cdap_geo_spark.operators.dedup import dedup_components
    n = 64
    pairs = spark.createDataFrame([(i, i + 1) for i in range(n - 1)],
                                  "id_a long, id_b long")
    # 1 round cannot close a 63-diameter path even with shortcutting
    # (driver_cap=0 pins the distributed loop — the cap-gated driver
    # union-find would otherwise solve this exactly in one pass)
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup_components(pairs, max_rounds=1, driver_cap=0).collect()
    # warn mode: partial labels returned, but loudly
    with pytest.warns(RuntimeWarning, match="did not converge"):
        out = dedup_components(pairs, max_rounds=1,
                               on_nonconverged="warn", driver_cap=0)
        assert out.count() == n


def test_driver_components_matches_distributed(spark):
    """The cap-gated driver union-find must be bit-identical to the
    converged pointer-jumping loop on a graph mixing chains, cliques,
    singleton-free nodes and disjoint pairs."""
    from cdap_geo_spark.operators.dedup import dedup_components
    rng = np.random.RandomState(5)
    edges = [(i, i + 1) for i in range(0, 40)]            # chain
    edges += [(100 + i, 100 + j)                          # clique
              for i in range(6) for j in range(i + 1, 6)]
    edges += [(200, 201), (300, 301), (301, 300)]         # pairs + dup
    edges += [(int(a), int(b)) for a, b in
              rng.randint(400, 460, size=(60, 2)) if a != b]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    fast = {(r.node, r.component)
            for r in dedup_components(pairs).collect()}
    slow = {(r.node, r.component)
            for r in dedup_components(pairs, driver_cap=0).collect()}
    assert fast == slow


def test_packed_minsum_matches_numpy(spark):
    """SWAR packed min-sum == numpy reference over random count
    vectors, including clipping overflow (counts > 127) — the bound
    must equal sum(min(clip_a, clip_b)) + overflow_a + overflow_b
    exactly, or the sketch cull is not provably lossless."""
    from cdap_geo_spark.operators.dedup import (_bucket_count_sketch,
                                                _packed_minsum)
    rng = np.random.RandomState(11)
    B = 128

    def pack(counts):
        clipped = np.minimum(counts, 127).astype(np.uint8)
        packed = clipped.view("<u8").astype(np.int64)
        return ([int(v) for v in packed]
                + [int(counts.sum() - clipped.sum())])

    rows, want = [], []
    for trial in range(200):
        scale = rng.choice([1, 3, 10, 200])
        ca = rng.poisson(scale, B).astype(np.int64)
        cb = rng.poisson(scale, B).astype(np.int64)
        if trial % 9 == 0:                      # force overflow lanes
            ca[rng.randint(B)] = rng.randint(128, 4000)
        clip_a, clip_b = np.minimum(ca, 127), np.minimum(cb, 127)
        want.append(int(np.minimum(clip_a, clip_b).sum()
                        + (ca - clip_a).sum() + (cb - clip_b).sum()))
        rows.append((pack(ca), pack(cb)))
    df = spark.createDataFrame(rows, "ska: array<long>, skb: array<long>")
    got = [r[0] for r in df.select(
        _packed_minsum(F.col("ska"), F.col("skb"), B).alias("v")).collect()]
    assert got == want


def test_ngram_sketch_cull_lossless_and_effective(spark):
    """The count-sketch cull must (a) change NOTHING about the output
    pairs at any threshold, and (b) shrink the candidate set reaching
    the exact verify stage at a high threshold."""
    from cdap_geo_spark.operators.dedup import ngram_jaccard_pairs
    df = _corpus(spark, n_base=60, seed=7).cache()

    def pairs(**kw):
        out = ngram_jaccard_pairs(df, k=5, threshold_pct=60, **kw)
        return sorted(tuple(r) for r in out.collect())

    base = pairs(prefix_filter=False)
    assert pairs(sketch=True) == base
    assert pairs(sketch=False) == base
    # auto rule: t=60 >= 55 turns the sketch on
    assert pairs() == base

    n_on = ngram_jaccard_pairs(df, k=5, threshold_pct=60, sketch=True,
                               _return_candidates=True).count()
    n_off = ngram_jaccard_pairs(df, k=5, threshold_pct=60, sketch=False,
                                _return_candidates=True).count()
    assert len(base) <= n_on <= n_off     # lossless: never below truth
    assert n_on < n_off                   # and actually culls


def test_ngram_sketch_bound_stays_out_of_join_condition(spark):
    """Plan-shape pin for the Janino 64KB fix: the packed SWAR bound
    must be evaluated in a PROJECT (where codegen splits subexpression
    methods), never folded into a join condition (where it cannot be
    split and trips 'Code grows beyond 64 KB', degrading the whole
    fused stage to interpreted execution). The barrier is the
    mono-id no-op disjunct in the filter — if a future optimizer rule
    or refactor re-enables the pushdown, this test catches it."""
    from cdap_geo_spark.operators.dedup import ngram_jaccard_pairs
    df = _corpus(spark, n_base=40, seed=13)
    cand = ngram_jaccard_pairs(df, k=5, threshold_pct=60, sketch=True,
                               _return_candidates=True)
    plan = cand._jdf.queryExecution().optimizedPlan().toString()
    # the SWAR bound uses shiftrightunsigned; every occurrence must be
    # inside a Project node, and no Join node's condition may carry it
    for line in plan.splitlines():
        if "shiftrightunsigned" in line:
            assert line.lstrip(" :+-").startswith("Project"), line
    # and the barrier filter survived optimization
    assert "monotonically_increasing_id" in plan


def test_dict_verify_equivalence_and_bounded_fallback(spark, monkeypatch):
    """The broadcast-dict exact verify must (a) produce bit-identical
    (inter, uni) rows to the native array_intersect joins on both
    operators that use it, and (b) REFUSE to collect when the gram
    relation exceeds the bounded-probe caps, falling back to the
    native join path — the property that makes it safe at corpus
    scale (the dict is a small-corpus fast path, never a broadcast
    of an unbounded relation)."""
    from cdap_geo_spark.operators import dedup
    df = _corpus(spark, n_base=40, seed=5).cache()

    def pairs(op, **kw):
        return sorted(tuple(r) for r in op(df, **kw).collect())

    # allpairs=False: the regime switch would otherwise route around
    # the verify stage this test exists to exercise
    on = pairs(dedup.ngram_jaccard_pairs, k=3, threshold_pct=40,
               dict_verify=True, allpairs=False)
    off = pairs(dedup.ngram_jaccard_pairs, k=3, threshold_pct=40,
                dict_verify=False, allpairs=False)
    assert on == off and len(on) > 0

    mh_on = pairs(dedup.minhash_lsh_pairs, dict_verify=True)
    mh_off = pairs(dedup.minhash_lsh_pairs, dict_verify=False)
    assert mh_on == mh_off and len(mh_on) > 0

    # the default is OFF (measured: native joins win warm) — the
    # helper must refuse unless explicitly enabled
    from pyspark.sql import functions as F
    rel = df.select(F.col("doc_id").alias("_id"),
                    dedup.gram_hashes(F.col("text"), 3).alias("_arr"))
    cand = rel.select(F.col("_id").alias("ida")) \
              .crossJoin(rel.select(F.col("_id").alias("idb"))).limit(1)
    assert dedup._exact_inter_sizes(cand, rel) is None
    assert pairs(dedup.ngram_jaccard_pairs, k=3, threshold_pct=40) == off

    # even when enabled, the bounded probe must refuse above the doc
    # cap — the property that makes it safe at corpus scale
    monkeypatch.setattr(dedup, "VERIFY_DICT_MAX_DOCS", 3)
    assert dedup._exact_inter_sizes(cand, rel, enabled=True) is None
    assert pairs(dedup.ngram_jaccard_pairs, k=3, threshold_pct=40,
                 dict_verify=True, allpairs=False) == off

    # same refusal on the byte cap
    monkeypatch.setattr(dedup, "VERIFY_DICT_MAX_DOCS", 10 ** 9)
    monkeypatch.setattr(dedup, "VERIFY_DICT_MAX_BYTES", 8)
    assert dedup._exact_inter_sizes(cand, rel, enabled=True) is None


def test_allpairs_regime_equivalence_caps_and_decision(spark, monkeypatch):
    """The all-pairs bitset regime must (a) produce bit-identical
    pairs to the prefix-join path at several (k, threshold) configs,
    (b) refuse above its bounded caps — even when forced — falling
    back to the distributed prefix join (the scale path), (c) plan
    with NO join when active (exhaustive enumeration is a broadcast +
    mapInPandas, no shuffle), and (d) exclude zero-gram docs (a 0/0
    jaccard is no pair, matching the SQL oracle)."""
    from cdap_geo_spark.operators import dedup
    df = _corpus(spark, n_base=40, seed=7).cache()

    def pairs(**kw):
        return sorted(tuple(r) for r in
                      dedup.ngram_jaccard_pairs(df, **kw).collect())

    for k, t in ((3, 40), (5, 60)):
        on = pairs(k=k, threshold_pct=t, allpairs=True)
        off = pairs(k=k, threshold_pct=t, allpairs=False)
        auto = pairs(k=k, threshold_pct=t)
        assert on == off == auto and len(on) > 0

    # active regime: no Join node anywhere in the optimized plan
    plan = dedup.ngram_jaccard_pairs(df, k=3, threshold_pct=40,
                                     allpairs=True) \
        ._jdf.queryExecution().optimizedPlan().toString()
    assert "Join" not in plan

    # zero-gram docs (text shorter than k) never pair — all regimes
    from pyspark.sql import functions as F
    df2 = df.unionByName(spark.createDataFrame(
        [(100001, "ab"), (100002, "ab"), (100003, "")],
        "doc_id long, text string"))
    base = pairs(k=3, threshold_pct=40, allpairs=False)
    for kw in ({"allpairs": True}, {}):
        got = sorted(tuple(r) for r in dedup.ngram_jaccard_pairs(
            df2, k=3, threshold_pct=40, **kw).collect())
        assert got == base
        assert not any(r[0] >= 100001 or r[1] >= 100001 for r in got)

    # docs cap: forced allpairs must still refuse and fall back —
    # plan carries a join again, results unchanged
    monkeypatch.setattr(dedup, "ALLPAIRS_MAX_DOCS", 3)
    capped = dedup.ngram_jaccard_pairs(df, k=3, threshold_pct=40,
                                       allpairs=True)
    assert "Join" in capped._jdf.queryExecution().optimizedPlan().toString()
    assert sorted(tuple(r) for r in capped.collect()) == base

    # byte cap refuses the same way
    monkeypatch.setattr(dedup, "ALLPAIRS_MAX_DOCS", 10 ** 9)
    monkeypatch.setattr(dedup, "VERIFY_DICT_MAX_BYTES", 8)
    assert pairs(k=3, threshold_pct=40, allpairs=True) == base


def test_allpairs_wins_decision():
    """_allpairs_wins: switch iff the prefix join's match-row lower
    bound P²/V reaches the total pair count n²/2."""
    from cdap_geo_spark.operators.dedup import _allpairs_wins
    # measured sf0.1 shape: n=5000, V=377, P=87*5000 -> ~40x over
    assert _allpairs_wins(5000, 377, 87 * 5000)
    # diverse vocabulary: V far above avg_prefix² -> keep prefix join
    assert not _allpairs_wins(5000, 1_000_000, 87 * 5000)
    # boundary: P²·2 == V·n² exactly -> switch (>=)
    assert _allpairs_wins(10, 2, 10)      # 2·100 >= 2·100
    assert not _allpairs_wins(10, 3, 10)  # 200 < 300
    assert not _allpairs_wins(10, 0, 10)  # empty vocab: nothing to do


def test_golden_records_survivorship(spark):
    from cdap_geo_spark.core.lifetime import checkpoint_scope
    from cdap_geo_spark.operators.dedup import golden_records
    docs = spark.createDataFrame(
        [(1, 100), (2, 300), (3, 300), (4, 50), (9, 10)],
        "doc_id long, n_chars long")
    # {1,2,3} one cluster (component = 1), {4} and {9} singletons
    pairs = spark.createDataFrame([(1, 2), (2, 3)],
                                  "id_a long, id_b long")
    with checkpoint_scope():
        got = {r.cluster: (r.golden_id, r.n_members, r.max_quality)
               for r in golden_records(docs, pairs).collect()}
    # survivor: highest n_chars, tie (2 vs 3 at 300) -> smaller id
    assert got == {1: (2, 3, 300), 4: (4, 1, 50), 9: (9, 1, 10)}


def test_lsh_eval_composition(spark):
    """lsh_eval composes two already-tested pair generators; pin the
    count identities (n_both <= min(n_true, n_det)) and the ratio
    arithmetic on the sf0.001 fixture."""
    import __spark_entry__ as E
    (row,) = E._q_lsh_eval(spark, "/root/testdata/sf0.001").collect()
    assert row.n_both <= row.n_true and row.n_both <= row.n_det
    import math
    if row.n_det:
        assert row.precision_micro == math.floor(
            row.n_both / row.n_det * 1e6 + 0.5)
    if row.n_true:
        assert row.recall_micro == math.floor(
            row.n_both / row.n_true * 1e6 + 0.5)
