"""Scale-path operators: salted join exactness and IVF ANN recall."""

from pyspark.sql import functions as F

from ez_cdc_spark.functions.similarity import brute_force_topk, ivf_topk
from ez_cdc_spark.operators.skew import salted_join
from ez_cdc_spark.sources.tables import load_table

from tests.conftest import stop_and_await


def test_salted_join_equals_plain_join_under_skew(spark):
    # one hot key (90% of the big side) + a tail
    big = spark.createDataFrame(
        [(1, i) for i in range(900)] + [(k, k * 1000) for k in range(2, 102)],
        "k INT, payload INT",
    )
    small = spark.createDataFrame(
        [(k, f"dim{k}") for k in range(0, 102)], "k INT, name STRING"
    )
    plain = big.join(small, ["k"]).select("k", "payload", "name")
    salted = salted_join(big, small, on=["k"], salt=8).select("k", "payload", "name")
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_salted_left_join_keeps_unmatched(spark):
    big = spark.createDataFrame([(1, 10), (2, 20), (9, 90)], "k INT, payload INT")
    small = spark.createDataFrame([(1, "a"), (2, "b")], "k INT, name STRING")
    out = sorted(
        map(tuple, salted_join(big, small, on=["k"], how="left", salt=4).collect())
    )
    assert out == [(1, 10, "a"), (2, 20, "b"), (9, 90, None)]


def test_salted_join_spreads_hot_key(spark):
    """The hot key must actually occupy every salt value (the point of the op)."""
    from ez_cdc_spark.operators.skew import SALT

    big = spark.createDataFrame([(1, i) for i in range(800)], "k INT, payload INT")
    salted = big.withColumn(
        SALT, F.pmod(F.monotonically_increasing_id(), F.lit(8)).cast("int")
    )
    n_salts = salted.select(SALT).distinct().count()
    assert n_salts == 8


def test_ivf_recall_vs_brute_force(spark, sf_dir):
    """Recall floors at two probe settings. The fixture's embeddings are
    near-uniform (no strong cluster structure), so recall tracks the probed
    corpus fraction — the 0.9 convention (matching x2e's) therefore needs a
    wider probe than the x3c registry config, whose own floor is asserted
    separately. The hard anchor is test_ivf_exact_mode_equals_brute_force:
    n_probe = n_cells reproduces brute force exactly."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    exact_pairs = {(r["q_id"], r["c_id"]) for r in brute_force_topk(q, emb, k=5).collect()}

    # x2e-convention floor at a tuned probe width (measured 0.92 on the
    # seeded fixture, deterministic).
    wide = ivf_topk(q, emb, k=5, n_cells=16, n_probe=10)
    wide_pairs = {(r["q_id"], r["c_id"]) for r in wide.collect()}
    recall_wide = len(exact_pairs & wide_pairs) / len(exact_pairs)
    assert recall_wide >= 0.9, f"recall@5 (10/16 probes) too low: {recall_wide:.2f}"

    # the x3c registry config (4/16 probes = 25% of the corpus scored) keeps
    # its own floor: recall must at least double the probed fraction.
    approx = ivf_topk(q, emb, k=5, n_cells=16, n_probe=4)
    approx_pairs = {(r["q_id"], r["c_id"]) for r in approx.collect()}
    recall = len(exact_pairs & approx_pairs) / len(exact_pairs)
    assert recall >= 0.5, f"recall@5 (4/16 probes) too low: {recall:.2f}"
    # shape contract: ≤ k rows per query, scores rounded to 4 dp
    counts = approx.groupBy("q_id").count().collect()
    assert all(r["count"] <= 5 for r in counts)


def test_ivf_is_deterministic(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    a = sorted(map(tuple, ivf_topk(q, emb, k=3).collect()))
    b = sorted(map(tuple, ivf_topk(q, emb, k=3).collect()))
    assert a == b


def test_neardup_pairs_equals_numpy_reference(spark, sf_smoke):
    import numpy as np

    from ez_cdc_spark.functions.similarity import neardup_pairs

    e = load_table(spark, sf_smoke, "embeddings")
    got = {
        (r["id_a"], r["id_b"]): r["score"]
        for r in neardup_pairs(e, threshold=0.4).collect()
    }
    rows = e.select("vec_id", "embedding").collect()
    ids = np.array([r["vec_id"] for r in rows])
    mat = np.vstack([np.asarray(r["embedding"], dtype="float64") for r in rows])
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    scores = mat @ mat.T
    want = {}
    for i in range(len(ids)):
        for j in range(len(ids)):
            if ids[i] < ids[j] and scores[i, j] >= 0.4:
                want[(int(ids[i]), int(ids[j]))] = round(float(scores[i, j]), 4)
    assert got == want


def test_frame_sample_covers_payload(spark):
    from ez_cdc_spark.operators.multimodal import attach_payload, sample_frames

    docs = spark.createDataFrame(
        [(1, "a" * 40), (2, "b" * 16), (3, "c")], "doc_id LONG, text STRING"
    )
    d = attach_payload(docs)
    # every=1: frames partition the payload exactly
    all_frames = sample_frames(d, frame_bytes=16, every=1).collect()
    by_doc = {}
    for r in all_frames:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert sum(r["n_bytes"] for r in by_doc[1]) == 40
    assert [r["frame_idx"] for r in sorted(by_doc[1], key=lambda r: r["frame_idx"])] == [0, 1, 2]
    assert len(by_doc[2]) == 1 and by_doc[2][0]["n_bytes"] == 16
    assert len(by_doc[3]) == 1 and by_doc[3][0]["n_bytes"] == 1
    # every=2 keeps only even frame indices
    sampled = sample_frames(d, frame_bytes=16, every=2).collect()
    assert all(r["frame_idx"] % 2 == 0 for r in sampled)


def test_resize_pads_and_truncates(spark):
    from ez_cdc_spark.operators.multimodal import attach_payload, resize_payloads

    docs = spark.createDataFrame(
        [(1, "ab"), (2, "z" * 100)], "doc_id LONG, text STRING"
    )
    got = {r["doc_id"]: r for r in resize_payloads(attach_payload(docs), 8, 8).collect()}
    assert got[1]["n_bytes"] == 64 and got[2]["n_bytes"] == 64
    assert got[1]["checksum"] == ord("a") + ord("b")  # zero padding adds nothing
    assert got[2]["checksum"] == 64 * ord("z")  # truncated to 64 bytes


def test_bmp_roundtrip_and_layout():
    """encode_bmp/decode_bmp are a REAL codec pair: pixel-exact round trip
    (incl. a stride-padded odd width), bottom-up storage order actually
    honored (hand-checked against the raw bytes), and honest
    NotImplementedError for compressed/unsupported payloads."""
    import struct

    import pytest

    from ez_cdc_spark.operators.multimodal import decode_bmp, encode_bmp, nn_resize

    # round trip, 4x4
    pix = [[(y * 4 + x) * 16 % 256 for x in range(4)] for y in range(4)]
    w, h, rows = decode_bmp(encode_bmp(pix))
    assert (w, h) == (4, 4)
    assert rows == [[(g, g, g) for g in row] for row in pix]

    # odd width forces a non-trivial 4-byte stride (3*3=9 -> 12)
    pix3 = [[1, 2, 3], [4, 5, 6]]
    w, h, rows = decode_bmp(encode_bmp(pix3))
    assert (w, h) == (3, 2)
    assert rows == [[(g, g, g) for g in row] for row in pix3]

    # bottom-up convention: the FIRST stored row must be the BOTTOM row
    raw = encode_bmp([[10], [20]])  # 1x2: top=10, bottom=20
    off = struct.unpack_from("<I", raw, 10)[0]
    assert raw[off] == 20 and decode_bmp(raw)[2][0][0] == (10, 10, 10)

    # top-down BMPs (negative height) decode too
    td = bytearray(encode_bmp([[10], [20]]))
    struct.pack_into("<i", td, 22, -2)  # height := -2 (top-down)
    assert decode_bmp(bytes(td))[2][0][0] == (20, 20, 20)

    # nearest-neighbor 2x up duplicates each pixel 2x2
    up = nn_resize([[(1, 1, 1), (2, 2, 2)], [(3, 3, 3), (4, 4, 4)]], 4, 4)
    assert up[0] == [(1, 1, 1)] * 2 + [(2, 2, 2)] * 2
    assert up[3] == [(3, 3, 3)] * 2 + [(4, 4, 4)] * 2

    # compressed formats refuse honestly
    with pytest.raises(NotImplementedError):
        decode_bmp(b"\x89PNG\r\n\x1a\n" + b"\0" * 32)
    rle = bytearray(encode_bmp([[1]]))
    struct.pack_into("<I", rle, 30, 1)  # compression := BI_RLE8
    with pytest.raises(NotImplementedError):
        decode_bmp(bytes(rle))


def test_resize_payloads_real_bmp_path(spark):
    """x5b's claim end-to-end at unit scale: a genuine BMP payload goes
    through header parse + NN resample, and the checksum equals the
    4x-duplicated tripled-gray sum the oracle predicts."""
    from ez_cdc_spark.operators.multimodal import attach_bmp_payload, resize_payloads

    docs = spark.createDataFrame(
        [(1, "abcdefghijklmnop"), (2, "xy")], "doc_id LONG, text STRING"
    )
    got = {
        r["doc_id"]: r
        for r in resize_payloads(attach_bmp_payload(docs, 4, 4), 8, 8).collect()
    }
    assert got[1]["n_bytes"] == 192  # 8*8 RGB pixels
    assert got[1]["checksum"] == 4 * 3 * sum(b"abcdefghijklmnop")
    assert got[2]["checksum"] == 4 * 3 * (ord("x") + ord("y"))


def test_minhash_lsh_recall_and_stability(spark, sf_dir):
    """x2's no-SQL-oracle claim gets teeth: on the seeded fixture the LSH
    candidate set must (a) contain EVERY exact 3-gram-Jaccard >= 0.8 pair
    (near-dups are what LSH must not miss at 16 bands x 4 rows) and (b) be
    byte-stable across runs (deterministic literal permutations)."""
    from ez_cdc_spark.operators.dedup import (
        minhash_lsh_candidates,
        ngram_jaccard_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    cand = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_candidates(docs, portable=True).select("id_a", "id_b").collect()
    }
    truth = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(docs, n=3, threshold=0.8)
        .select("id_a", "id_b")
        .collect()
    }
    assert truth, "fixture must contain at least one >=0.8 near-dup pair"
    missed = truth - cand
    assert not missed, f"LSH missed {len(missed)} true near-dup pairs: {sorted(missed)[:5]}"

    # byte-stability: a second full evaluation yields the identical pair set
    again = sorted(
        tuple(r) for r in minhash_lsh_candidates(docs, portable=True).select("id_a", "id_b", "jaccard").collect()
    )
    first = sorted(
        tuple(r) for r in minhash_lsh_candidates(docs, portable=True).select("id_a", "id_b", "jaccard").collect()
    )
    assert first == again


def test_lsh_neardup_recall_vs_exact(spark, sf_dir):
    """x2e's approximate claim gets teeth: no false positives (exact verify
    stage) and recall >= 0.9 vs the exact blocked all-pairs op at the x2e
    registry config (threshold 0.4, 64 bits / 16 bands) on the fixture."""
    from ez_cdc_spark.functions.similarity import lsh_neardup_pairs, neardup_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    exact = {
        (r["id_a"], r["id_b"])
        for r in neardup_pairs(emb, threshold=0.4).select("id_a", "id_b").collect()
    }
    approx = {
        (r["id_a"], r["id_b"])
        for r in lsh_neardup_pairs(emb, threshold=0.4, n_bits=64, bands=16)
        .select("id_a", "id_b")
        .collect()
    }
    assert exact, "fixture must contain >=0.4 cosine pairs"
    assert approx <= exact, f"false positives: {sorted(approx - exact)[:5]}"
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.9, f"recall {recall:.3f} < 0.9 ({len(approx)}/{len(exact)})"


def test_ivf_exact_mode_equals_brute_force(spark, sf_smoke):
    """Exact-mode identity pin (SURVEY x3c): probing EVERY cell
    (n_probe = n_cells) scores every (query, corpus) pair, so IVF must
    reproduce brute_force_topk exactly — pairs, scores, and tie-breaks.
    This is the hard anchor behind the approximate mode's recall test:
    any drift in assignment/scoring/windowing breaks an equality, not a
    threshold."""
    emb = load_table(spark, sf_smoke, "embeddings")
    q = emb.filter(F.col("vec_id") < 8)
    exact = sorted(map(tuple, brute_force_topk(q, emb, k=5).collect()))
    full_probe = sorted(
        map(tuple, ivf_topk(q, emb, k=5, n_cells=8, n_probe=8).collect())
    )
    assert exact == full_probe


def test_salted_join_tolerates_map_columns(spark):
    """Map-typed payload columns must not break the salt hash (Spark
    disallows xxhash64 over MapType); they are excluded from the hash and
    the join result still equals the plain join."""
    big = spark.createDataFrame(
        [(1, {"a": i}) for i in range(50)] + [(2, {"b": 1})],
        "k INT, props MAP<STRING,INT>",
    )
    small = spark.createDataFrame([(1, "x"), (2, "y")], "k INT, name STRING")
    got = sorted(
        (r["k"], r["name"]) for r in salted_join(big, small, on=["k"], salt=4).collect()
    )
    want = sorted((r["k"], r["name"]) for r in big.join(small, ["k"]).collect())
    assert got == want


def test_connected_components_path_and_islands(spark):
    """Min-label propagation must close transitive chains (a path graph
    needs multiple propagation rounds — the convergence loop, not one
    join) and keep disjoint components apart."""
    from ez_cdc_spark.operators.dedup import connected_components

    # path 0-1-2-3-4 (diameter 4), triangle 10-11-12, isolated edge 20-21
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
        "id_a BIGINT, id_b BIGINT",
    )
    got = {r["id"]: r["cluster_id"] for r in connected_components(edges).collect()}
    assert got == {0: 0, 1: 0, 2: 0, 3: 0, 4: 0, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_connected_components_random_graph_matches_union_find(spark):
    """300-node random graph vs a union-find oracle: the distributed
    label propagation must agree on every component, including longer
    chains that need several propagation rounds."""
    import random

    from ez_cdc_spark.operators.dedup import connected_components

    rng = random.Random(7)
    raw = [(rng.randrange(300), rng.randrange(300)) for _ in range(150)]
    edge_list = [(a, b) for a, b in raw if a != b]

    parent = list(range(300))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edge_list:
        ra, rb = find(a), find(b)
        if ra != rb:
            # attach larger root under smaller => final root = component min
            parent[max(ra, rb)] = min(ra, rb)
    nodes = {n for e in edge_list for n in e}
    expected = {n: find(n) for n in nodes}

    edges = spark.createDataFrame(edge_list, "id_a BIGINT, id_b BIGINT")
    got = {r["id"]: r["cluster_id"] for r in connected_components(edges).collect()}
    assert got == expected


def test_approx_percentile_rank_error_bound_and_exact_mode(spark, sf_dir):
    """a12's two regimes. Exact mode: accuracy high enough that rank error
    n/accuracy < 1 must return the exact discrete quantile (a12's oracle
    anchor). Approximate mode: at a deliberately coarse accuracy, every
    returned value's true rank must sit within the documented n/accuracy
    bound of the target rank."""
    emb = load_table(spark, sf_dir, "customer")
    vals = sorted(r["c_acctbal"] for r in emb.select("c_acctbal").collect())
    n = len(vals)

    def true_rank(v):
        import bisect

        return bisect.bisect_left(vals, v)

    for p in (0.5, 0.9):
        exact_disc = vals[min(n - 1, int(p * (n - 1) + 0.5))]
        got_exact = emb.agg(
            F.approx_percentile("c_acctbal", F.lit(p), F.lit(10_000_000))
        ).first()[0]
        assert got_exact in vals
        assert abs(true_rank(got_exact) - p * (n - 1)) <= 1, (p, got_exact, exact_disc)

        coarse_acc = 50
        got = emb.agg(
            F.approx_percentile("c_acctbal", F.lit(p), F.lit(coarse_acc))
        ).first()[0]
        assert got in vals  # GK returns actual elements, never interpolations
        assert abs(true_rank(got) - p * (n - 1)) <= n / coarse_acc + 1


def test_zorder_narrows_both_dimensions(spark, sf_dir):
    """S15's data-skipping claim, measured: with 64 z-buckets (3 z-bits per
    dimension), the average per-bucket min-max span of BOTH l_partkey and
    l_suppkey must shrink to ~1/8 of the global range (<=25% with
    distribution slack) — whereas a single-column sort baseline narrows
    only its leading column and leaves the other dimension's footers at
    ~the full range (so file pruning on that predicate skips nothing)."""
    from ez_cdc_spark.queries import load_all

    prof = load_all()["s15_zorder_cluster"].fn(spark, sf_dir).collect()
    g_pk = max(r.max_pk for r in prof) - min(r.min_pk for r in prof)
    g_sk = max(r.max_sk for r in prof) - min(r.min_sk for r in prof)
    z_pk = sum(r.max_pk - r.min_pk for r in prof) / len(prof) / g_pk
    z_sk = sum(r.max_sk - r.min_sk for r in prof) / len(prof) / g_sk
    assert z_pk <= 0.25, f"z-order pk span ratio {z_pk:.3f}"
    assert z_sk <= 0.25, f"z-order sk span ratio {z_sk:.3f}"

    # baseline: 64 equal-count buckets of a sort on l_partkey alone
    li = load_table(spark, sf_dir, "lineitem")
    from pyspark.sql import Window

    base = li.select(
        "l_partkey",
        "l_suppkey",
        F.ntile(64).over(Window.orderBy("l_partkey")).alias("b"),
    )
    rows = (
        base.groupBy("b")
        .agg(
            (F.max("l_suppkey") - F.min("l_suppkey")).alias("span_sk"),
        )
        .collect()
    )
    sort_sk = sum(r.span_sk for r in rows) / len(rows) / g_sk
    assert sort_sk >= 0.9, f"sort baseline should NOT narrow sk: {sort_sk:.3f}"
    assert z_sk < sort_sk / 3


def test_misra_gries_sketch_guarantees(spark, sf_dir):
    """A14's sketch regime on the real token stream (m=8 < the fixture's
    31-token vocabulary, so compression genuinely fires): (1) estimates
    never overcount; (2) the summed compression offsets bound every
    token's undercount — including tokens the sketch dropped; (3) every
    token whose true count exceeds the bound survives in the sketch."""
    from ez_cdc_spark.operators.sketches import mg_partials

    d = load_table(spark, sf_dir, "documents")
    tokens = d.select(F.explode(F.split(F.col("text"), r"\s+")).alias("token"))
    parts = mg_partials(tokens, "token", m=8).collect()
    est = {}
    err = 0
    for r in parts:
        if r.token is None:
            err += r.err
        else:
            est[r.token] = est.get(r.token, 0) + r.est
    true = {
        r.token: r.n
        for r in tokens.groupBy("token").agg(F.count("*").alias("n")).collect()
    }
    assert err > 0, "m=8 must actually compress on this corpus"
    for tok, t_n in true.items():
        e = est.get(tok, 0)
        assert e <= t_n, f"{tok}: overcount {e} > {t_n}"
        assert t_n - e <= err, f"{tok}: undercount beyond bound"
        if t_n > err:
            assert tok in est, f"heavy hitter {tok} dropped"


def test_cluster_split_has_no_neardup_leakage(spark, sf_dir):
    """x36's whole point: every near-dup cluster lands in ONE split (so no
    x2-candidate pair straddles train/test), while the x28 doc-keyed split
    demonstrably leaks at least one such pair — the caveat x36 closes."""
    from ez_cdc_spark.queries import load_all

    reg = load_all()
    by_doc = {
        r.doc_id: (r.cluster_id, r.split)
        for r in reg["x36_cluster_split"].fn(spark, sf_dir).collect()
    }
    clusters = {}
    for cid, split in by_doc.values():
        clusters.setdefault(cid, set()).add(split)
    assert all(len(s) == 1 for s in clusters.values()), "cluster split torn"
    multi = [c for c, _ in clusters.items()
             if sum(1 for v in by_doc.values() if v[0] == c) > 1]
    assert multi, "fixture must contain at least one real near-dup cluster"

    doc_split = {
        r.doc_id: r.split for r in reg["x28_split_assign"].fn(spark, sf_dir).collect()
    }
    leaked = 0
    for cid in multi:
        members = [d for d, v in by_doc.items() if v[0] == cid]
        if len({doc_split[d] for d in members}) > 1:
            leaked += 1
    assert leaked > 0, "doc-keyed split should leak on this fixture (caveat real)"


def test_u7_defines_empty_vectors(spark, tmp_path):
    """ADVICE r7: a zero-length embedding must not borrow the next vector's
    first code, and an empty LAST vector must not push a reduceat start
    index past the flat buffer (IndexError). Empty vectors yield the
    defined summary (n_dims=0, q_sum/q_min/q_max = 0) on both engines."""
    import pandas as pd

    from ez_cdc_spark.queries import load_all

    reg = load_all()
    pdf = pd.DataFrame(
        {
            "vec_id": [1, 2, 3, 4],
            # empty middle AND empty last vector in one file/batch
            "embedding": [[2.0, -4.0], [], [1.0, 1.0, 1.0], []],
        }
    )
    d = tmp_path / "u7_empty"
    d.mkdir()
    pdf.to_parquet(d / "embeddings.parquet")
    rows = {r.vec_id: r for r in reg["u7_map_in_arrow"].fn(spark, str(d)).collect()}
    assert rows[1].n_dims == 2 and (rows[1].q_min, rows[1].q_max) == (-127, 64)
    for vid in (2, 4):
        r = rows[vid]
        assert (r.n_dims, r.q_sum, r.q_min, r.q_max) == (0, 0, 0, 0)
    assert rows[3].q_sum == 127 * 3

    import duckdb

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{d}/embeddings.parquet')"
    )
    ora = {
        r[0]: r
        for r in con.execute(reg["u7_map_in_arrow"].oracle).fetchall()
    }
    for vid, r in rows.items():
        assert tuple(ora[vid]) == (vid, r.n_dims, r.q_sum, r.q_min, r.q_max)


def test_mg_compressing_regime_through_streaming_state(spark, sf_smoke):
    """r7 VERDICT #5: the Misra-Gries COMPRESSING regime through the real
    streaming path — per-bucket counter maps must survive state-store
    serialize/deserialize round-trips ACROSS micro-batches (the surface
    the batch-fold property tests can't reach). m=2 forces compressions
    (vocab ~50 over 8 buckets); asserts on the update-stream collapse:
    no overcount at any time, undercount within the emitted offset bound,
    and survival of every token heavier than the global error bound."""
    from ez_cdc_spark.queries.streaming_equiv import mg_stream_counts
    from ez_cdc_spark.sources.tables import load_table

    est = {
        r.token: (r.est_count, r.err_bound)
        for r in mg_stream_counts(spark, sf_smoke, m=2, name="t16_small_m").collect()
    }
    true = {
        r.token: r.n
        for r in load_table(spark, sf_smoke, "events")
        .select(
            F.concat_ws(
                ":", F.col("event_type"), (F.col("user_id") % 10).cast("string")
            ).alias("token")
        )
        .groupBy("token")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert any(off > 0 for _, off in est.values()), "m=2 must actually compress"
    max_off = max(off for _, off in est.values())
    for tok, (e, _off) in est.items():
        t_n = true[tok]
        assert e <= t_n, f"{tok}: overcount {e} > {t_n}"
        assert t_n - e <= max_off, f"{tok}: undercount beyond offset bound"
    for tok, t_n in true.items():
        if t_n > max_off:
            assert tok in est, f"heavy hitter {tok} dropped across batches"


def test_t19_replay_layout_forces_cross_batch_state(spark, sf_smoke):
    """t19's correctness claim rests on the time-split layout: every stage
    file is non-empty (so every micro-batch folds fresh rows into state),
    stages are disjoint and totally ordered by (ts, event_id), and users
    span stages (so the final EWMA only exists if per-user state crossed
    the state store between batches)."""
    import duckdb

    from ez_cdc_spark.streaming.replay import events_parquet_time_split

    path = events_parquet_time_split(spark, sf_smoke)
    con = duckdb.connect()
    stages = []
    for i in range(3):
        rows = con.execute(
            f"SELECT ts, event_id, user_id FROM read_parquet('{path}/stage-{i}.parquet')"
        ).fetchall()
        assert rows, f"stage {i} empty — a batch would carry no data"
        stages.append(rows)
    for a, b in zip(stages, stages[1:]):
        assert max((r[0], r[1]) for r in a) < min((r[0], r[1]) for r in b)
    multi = set(r[2] for r in stages[0]) & set(r[2] for r in stages[1])
    assert multi, "no user spans batches — state round-trip untested"


def test_t20_replay_layout_forces_cross_batch_registers(spark, sf_smoke):
    """t20's cross-batch claim rests on the split layout: every stage file
    is non-empty (each micro-batch contributes rows), and at least one
    (event_type, bucket) register receives contributions from MORE THAN ONE
    stage — so the final register only equals the batch value if streaming
    state carried the max across the state store between batches."""
    import duckdb

    from ez_cdc_spark.streaming.replay import events_parquet_split

    path = events_parquet_split(spark, sf_smoke)
    con = duckdb.connect()
    per_stage = []
    for i in range(3):
        rows = con.execute(
            f"""
            SELECT DISTINCT event_type,
                   CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8)
                        AS BIGINT) // 33554432 AS bucket
            FROM read_parquet('{path}/stage-{i}.parquet')
            """
        ).fetchall()
        assert rows, f"stage {i} empty — a batch would carry no data"
        per_stage.append(set(rows))
    shared = per_stage[0] & per_stage[1]
    assert shared, "no register spans batches — state round-trip untested"


def test_t21_minhash_registers_accumulate_across_batches(spark, sf_dir, tmp_path):
    """t21's cross-batch contract: with one file per micro-batch the
    per-(lang, slot) register must reach its final value only via min-merge
    ACROSS batches — replaying the same stream to a parquet sink and
    folding each batch's update emissions with min must equal both the
    registered query's output and a batch-side recomputation, and the run
    must actually span multiple micro-batches."""
    from pyspark.sql import functions as F

    from ez_cdc_spark.operators.dedup import minhash_signature, shingle_hashes
    from ez_cdc_spark.queries import load_all
    from ez_cdc_spark.sources.tables import load_table
    from ez_cdc_spark.streaming.replay import DOCS_REPLAY_SCHEMA, documents_parquet

    out = str(tmp_path / "emissions")
    docs = (
        spark.readStream.schema(DOCS_REPLAY_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(documents_parquet(spark, sf_dir))
    )
    sig = minhash_signature(
        shingle_hashes(F.split(F.col("text"), r"\s+"), 3, portable=True),
        num_hashes=16,
    )
    regs = (
        docs.select("lang", F.posexplode(sig).alias("slot", "sig"))
        .filter(F.col("sig").isNotNull())
        .groupBy("lang", "slot")
        .agg(F.min("sig").alias("sig"))
    )
    q = (
        regs.writeStream.outputMode("update")
        .foreachBatch(lambda df, _bid: df.write.mode("append").parquet(out))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert len(q.recentProgress) >= 3, "replay must span multiple micro-batches"

    folded = sorted(
        tuple(r)
        for r in spark.read.parquet(out)
        .groupBy("lang", "slot")
        .agg(F.min("sig").cast("bigint").alias("sig"))
        .select("lang", F.col("slot").cast("bigint"), "sig")
        .collect()
    )
    reg_out = sorted(
        tuple(r)
        for r in load_all()["t21_streaming_minhash"].fn(spark, sf_dir).collect()
    )
    assert folded == reg_out and len(folded) > 0

    batch_sig = minhash_signature(
        shingle_hashes(F.split(F.col("text"), r"\s+"), 3, portable=True),
        num_hashes=16,
    )
    batch = sorted(
        tuple(r)
        for r in load_table(spark, sf_dir, "documents")
        .select("lang", F.posexplode(batch_sig).alias("slot", "sig"))
        .filter(F.col("sig").isNotNull())
        .groupBy("lang", "slot")
        .agg(F.min("sig").cast("bigint").alias("sig"))
        .select("lang", F.col("slot").cast("bigint"), "sig")
        .collect()
    )
    assert folded == batch


def test_t23_windowed_hll_evicts_closed_windows(spark, sf_dir, tmp_path):
    """t23's state contract: the watermark GC actually evicts closed
    windows during the replay (final-batch state rows are a tiny fraction
    of the total registers the query produced) while dropping ZERO rows
    (the time-ordered split keeps every event ahead of the watermark), so
    batch-equivalence and bounded state hold simultaneously."""
    from pyspark.sql import functions as F

    from ez_cdc_spark.streaming.replay import (
        EVENTS_JSON_SCHEMA,
        checkpoint_dir,
        events_parquet_time_split,
    )

    path = events_parquet_time_split(spark, sf_dir)
    out = str(tmp_path / "emissions")
    ev = (
        spark.readStream.schema(EVENTS_JSON_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    h32 = F.conv(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10
    ).cast("long")
    regs = (
        ev.withWatermark("ts", "1 minute")
        .select("ts", F.col("event_type").alias("grp"), h32.alias("h32"))
        .select(
            "ts",
            "grp",
            F.expr("h32 div 33554432").alias("bucket"),
            (F.col("h32") % F.lit(33554432)).alias("w"),
        )
        .groupBy(F.window("ts", "30 minutes"), "grp", "bucket")
        .agg(F.max("w").alias("mw"))
    )
    q = (
        regs.writeStream.outputMode("update")
        .foreachBatch(lambda df, _bid: df.write.mode("append").parquet(out))
        .option("checkpointLocation", checkpoint_dir())
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    progress = [p for p in q.recentProgress if p["stateOperators"]]
    assert len(progress) >= 3, "replay must span multiple micro-batches"
    dropped = sum(p["stateOperators"][0]["numRowsDroppedByWatermark"] for p in progress)
    assert dropped == 0, "time-ordered replay must never lose a row"
    final_state = progress[-1]["stateOperators"][0]["numRowsTotal"]
    total_registers = (
        spark.read.parquet(out).select("window", "grp", "bucket").distinct().count()
    )
    assert total_registers > 20 * final_state > 0, (
        f"watermark must evict closed windows: state={final_state}, "
        f"registers={total_registers}"
    )


def test_t26_windowed_cms_evicts_closed_windows(spark, sf_dir, tmp_path):
    """t26's state contract (t23's eviction test applied to the SUM-merged
    sketch): watermark GC evicts closed windows' cells during the replay —
    final-batch state rows are a small fraction of the total (window, cell)
    pairs produced — while dropping ZERO rows on the time-ordered split."""
    from pyspark.sql import functions as F

    from ez_cdc_spark.streaming.replay import (
        EVENTS_JSON_SCHEMA,
        checkpoint_dir,
        events_parquet_time_split,
    )

    path = events_parquet_time_split(spark, sf_dir)
    out = str(tmp_path / "emissions")
    ev = (
        spark.readStream.schema(EVENTS_JSON_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )

    def bucket(j):
        h = F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.lit(str(j)), F.col("user_id").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        return h % 256

    regs = (
        ev.withWatermark("ts", "1 minute")
        .select(
            "ts",
            F.posexplode(F.array(*[bucket(j) for j in range(4)])).alias(
                "row_id", "bucket"
            ),
        )
        .groupBy(F.window("ts", "30 minutes"), "row_id", "bucket")
        .agg(F.count("*").alias("cnt"))
    )
    q = (
        regs.writeStream.outputMode("update")
        .foreachBatch(lambda df, _bid: df.write.mode("append").parquet(out))
        .option("checkpointLocation", checkpoint_dir())
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    progress = [p for p in q.recentProgress if p["stateOperators"]]
    assert len(progress) >= 3, "replay must span multiple micro-batches"
    dropped = sum(p["stateOperators"][0]["numRowsDroppedByWatermark"] for p in progress)
    assert dropped == 0, "time-ordered replay must never lose a row"
    final_state = progress[-1]["stateOperators"][0]["numRowsTotal"]
    total_cells = (
        spark.read.parquet(out).select("window", "row_id", "bucket").distinct().count()
    )
    assert total_cells > 10 * final_state > 0, (
        f"watermark must evict closed windows: state={final_state}, "
        f"cells={total_cells}"
    )


def test_t26_windowed_cms_python_replay(spark, sf_dir):
    """Third-implementation check for t26: a straight-line Python CMS
    replay (hashlib md5, Counter cells) reproduces every probe row's
    estimate exactly, and the CMS overestimate guarantee est >= truth
    holds per (window, user) probe."""
    import hashlib
    from collections import Counter

    import pandas as pd

    from ez_cdc_spark.queries import load_all

    rows = load_all()["t26_windowed_streaming_cms"].fn(spark, sf_dir).collect()
    assert rows, "probe output must be non-empty"

    ev = pd.read_parquet(f"{sf_dir}/events.parquet", columns=["ts", "user_id"])
    ts = pd.to_datetime(ev["ts"])
    if ts.dt.tz is not None:
        ts = ts.dt.tz_convert("UTC").dt.tz_localize(None)
    # unit-agnostic epoch seconds (parquet may surface datetime64[us] or [ns])
    epoch_s = (ts - pd.Timestamp("1970-01-01")) // pd.Timedelta(seconds=1)
    wsec = (epoch_s // 1800 * 1800).astype("int64")

    def bucket(j, uid):
        return int(hashlib.md5(f"{j}:{uid}".encode()).hexdigest()[:8], 16) % 256

    cells: Counter = Counter()
    truth: Counter = Counter()
    for w, uid in zip(wsec, ev["user_id"]):
        truth[(w, int(uid))] += 1
        for j in range(4):
            cells[(w, j, bucket(j, int(uid)))] += 1

    for r in rows:
        w = int(
            pd.Timestamp(r["wstart"]).tz_localize("UTC").value // 10**9
        )
        uid = int(r["user_id"])
        est = min(cells[(w, j, bucket(j, uid))] for j in range(4))
        assert est == r["cms_est"], (w, uid, est, r["cms_est"])
        assert truth[(w, uid)] == r["true_cnt"]
        assert r["overestimate"] >= 0 and r["cms_est"] >= r["true_cnt"]


def test_t27_windowed_bitmap_evicts_closed_windows(spark, sf_dir, tmp_path):
    """t27's state contract (t23's eviction test applied to the idempotent
    OR-merged bitmap): watermark GC evicts closed windows' words during the
    replay — final-batch state rows are a small fraction of the total
    (window, grp, word) cells produced — while dropping ZERO rows on the
    time-ordered split."""
    from pyspark.sql import functions as F

    from ez_cdc_spark.streaming.replay import (
        EVENTS_JSON_SCHEMA,
        checkpoint_dir,
        events_parquet_time_split,
    )

    path = events_parquet_time_split(spark, sf_dir)
    out = str(tmp_path / "emissions")
    ev = (
        spark.readStream.schema(EVENTS_JSON_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    regs = (
        ev.withWatermark("ts", "1 minute")
        .select(
            "ts",
            F.col("event_type").alias("grp"),
            F.expr("user_id div 32").alias("word_idx"),
            F.expr(
                "shiftleft(cast(1 as bigint), cast(user_id % 32 as int))"
            ).alias("bit"),
        )
        .groupBy(F.window("ts", "30 minutes"), "grp", "word_idx")
        .agg(F.bit_or("bit").alias("word"))
    )
    q = (
        regs.writeStream.outputMode("update")
        .foreachBatch(lambda df, _bid: df.write.mode("append").parquet(out))
        .option("checkpointLocation", checkpoint_dir())
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    progress = [p for p in q.recentProgress if p["stateOperators"]]
    assert len(progress) >= 3, "replay must span multiple micro-batches"
    dropped = sum(p["stateOperators"][0]["numRowsDroppedByWatermark"] for p in progress)
    assert dropped == 0, "time-ordered replay must never lose a row"
    final_state = progress[-1]["stateOperators"][0]["numRowsTotal"]
    total_cells = (
        spark.read.parquet(out).select("window", "grp", "word_idx").distinct().count()
    )
    assert total_cells > 10 * final_state > 0, (
        f"watermark must evict closed windows: state={final_state}, "
        f"cells={total_cells}"
    )


def test_t27_windowed_bitmap_python_replay(spark, sf_dir):
    """Third-implementation check for t27: a straight-line Python replay
    (per-(window, grp) set of user_ids) reproduces every output row's
    n_distinct exactly and every word count, proving the word/popcount
    pipeline computes EXACT windowed distincts."""
    import pandas as pd

    from ez_cdc_spark.queries import load_all

    rows = load_all()["t27_windowed_streaming_bitmap"].fn(spark, sf_dir).collect()
    assert rows, "output must be non-empty"

    ev = pd.read_parquet(
        f"{sf_dir}/events.parquet", columns=["ts", "user_id", "event_type"]
    )
    ts = pd.to_datetime(ev["ts"])
    if ts.dt.tz is not None:
        ts = ts.dt.tz_convert("UTC").dt.tz_localize(None)
    # unit-agnostic epoch seconds (parquet may surface datetime64[us] or [ns])
    epoch_s = (ts - pd.Timestamp("1970-01-01")) // pd.Timedelta(seconds=1)
    wsec = (epoch_s // 1800 * 1800).astype("int64")

    users: dict = {}
    for w, uid, grp in zip(wsec, ev["user_id"], ev["event_type"]):
        users.setdefault((int(w), grp), set()).add(int(uid))

    seen = set()
    for r in rows:
        w = int(pd.Timestamp(r["wstart"]).tz_localize("UTC").value // 10**9)
        key = (w, r["grp"])
        seen.add(key)
        uids = users[key]
        assert r["n_distinct"] == len(uids), (key, r["n_distinct"], len(uids))
        assert r["n_words"] == len({u // 32 for u in uids}), key
    assert seen == set(users), "every (window, grp) must be emitted"


def test_s25_aborted_and_superseded_generations_invisible(spark, sf_dir):
    """s25 path-level contract: after the query's lifecycle (publish gen-1,
    publish gen-2, stage-and-abort gen-3), the staged/superseded files are
    physically ON DISK yet a reader resolves none of them; a later publish
    flips readers to the new generation in one atomic pointer swap; and a
    torn mid-commit state (manifest written, pointer not yet swapped)
    still serves the previous generation."""
    import glob
    import json
    import os

    from ez_cdc_spark.queries import load_all
    from ez_cdc_spark.queries.sources_sinks import _scratch
    from ez_cdc_spark.sources.manifest import (
        committed_files,
        publish,
        read_committed,
    )

    load_all()["s25_manifest_atomic_publish"].fn(spark, sf_dir).collect()
    td = _scratch(sf_dir, "s25manifest")

    # debris exists on disk...
    for gen in (1, 3):
        assert glob.glob(os.path.join(td, "data", f"gen-{gen}", "*.parquet")), gen
    # ...but the reader's file list is exactly the committed generation
    files = committed_files(td)
    assert files and all(f"gen-2{os.sep}" in f or "gen-2/" in f for f in files)

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    n2 = o.filter("o_orderkey % 3 = 0").count()
    assert read_committed(spark, td).count() == n2

    # torn commit: a gen-4 manifest exists but the pointer still names gen-2
    import pyspark.sql.functions as F  # noqa: N812

    g4 = o.filter("o_orderkey % 7 = 0")
    from ez_cdc_spark.sources.manifest import stage_only

    files4 = stage_only(g4, td, generation=4)
    with open(os.path.join(td, "_manifests", "gen-4.json"), "w") as fh:
        json.dump(
            {"generation": 4, "files": [os.path.relpath(f, td) for f in files4]}, fh
        )
    assert read_committed(spark, td).count() == n2, "unswapped manifest leaked"

    # the torn generation's manifest is immutable debris: re-publishing it is
    # refused (recovery = abandon the torn gen and move on), as is any
    # generation at or below the committed one
    import pytest

    with pytest.raises(FileExistsError):
        publish(g4, td, generation=4)
    with pytest.raises(ValueError):
        publish(g4, td, generation=2)

    # real publish of a FRESH generation flips atomically
    publish(g4, td, generation=5)
    assert read_committed(spark, td).count() == g4.count()
    assert all("gen-5" in f for f in committed_files(td))


def test_t28_time_split_layout_forces_cross_batch_bar_merge(spark, sf_dir):
    """t28's state claim under forced MULTI-batch replay: stream the
    time-split event layout one file per trigger, so every (user, bucket)
    bar's eight running scalars MUST merge across micro-batches (min/max/
    SUM state, not within-batch luck), and the final complete-mode table
    still equals the batch w20 answer row-for-row."""
    from ez_cdc_spark.operators.resample import ohlc_bars
    from ez_cdc_spark.queries import load_all
    from ez_cdc_spark.streaming.replay import (
        EVENTS_JSON_SCHEMA,
        events_parquet_time_split,
        run_to_memory,
    )

    path = events_parquet_time_split(spark, sf_dir)
    ev = (
        spark.readStream.schema(EVENTS_JSON_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    streamed = run_to_memory(ohlc_bars(ev, "30 minutes"), "t28_split_bars")
    batch = load_all()["w20_ohlc_bars"].fn(spark, sf_dir)
    s = sorted(tuple(str(v) for v in r) for r in streamed.collect())
    b = sorted(tuple(str(v) for v in r) for r in batch.collect())
    assert s == b and len(s) > 0


def test_s26_compaction_lossless_and_superseded_invisible(spark, sf_dir):
    """s26 path-level contract: after compaction the committed generation
    is ONE file; the 12 superseded small files are still on disk but
    unreferenced; the compacted content is row-for-row identical to the
    pre-compaction generation (signature compare, not just aggregates);
    and a further compaction of an already-compact generation is a no-op
    content-wise."""
    import glob
    import os

    from ez_cdc_spark.queries import load_all
    from ez_cdc_spark.queries.sources_sinks import _scratch
    from ez_cdc_spark.sources.manifest import committed_files, compact, read_committed

    load_all()["s26_manifest_compaction"].fn(spark, sf_dir).collect()
    td = _scratch(sf_dir, "s26compact")

    cf = committed_files(td)
    assert len(cf) == 1 and all("gen-2" in f for f in cf)
    g1 = glob.glob(os.path.join(td, "data", "gen-1", "*.parquet"))
    assert len(g1) == 12, "superseded small files must remain on disk"

    def signature(df):
        return sorted(tuple(str(v) for v in r) for r in df.collect())

    pre = signature(spark.read.parquet(*g1))
    post = signature(read_committed(spark, td))
    assert pre == post, "compaction must be lossless row-for-row"

    compact(spark, td, generation=3, target_files=2)
    assert signature(read_committed(spark, td)) == post
    assert all("gen-3" in f for f in committed_files(td))


def test_s25_gc_removes_only_unreferenced_generations(spark, sf_dir):
    """manifest.gc: after the s26 lifecycle (gen-1 superseded by the gen-2
    compaction), GC deletes exactly the unreferenced generation's files and
    manifest, never the committed one — and the reader's view is untouched
    byte-for-byte."""
    import glob
    import os

    from ez_cdc_spark.queries import load_all
    from ez_cdc_spark.queries.sources_sinks import _scratch
    from ez_cdc_spark.sources.manifest import committed_files, gc, read_committed

    load_all()["s26_manifest_compaction"].fn(spark, sf_dir).collect()
    td = _scratch(sf_dir, "s26compact")
    before = sorted(tuple(str(v) for v in r) for r in read_committed(spark, td).collect())

    deleted = gc(td)
    assert any("gen-1" in p for p in deleted)
    assert not any("gen-2" in p for p in deleted)
    assert not glob.glob(os.path.join(td, "data", "gen-1", "*")), "gen-1 must be gone"

    after = sorted(tuple(str(v) for v in r) for r in read_committed(spark, td).collect())
    assert after == before
    assert all("gen-2" in f for f in committed_files(td))
    assert gc(td) == [], "second GC must be a no-op"


def test_s27_time_travel_gc_honesty_and_retention(spark, sf_dir):
    """s27 path-level contract: as_of_generation=1 serves EXACTLY the
    superseded snapshot while the pointer serves gen-2; after GC collects
    gen-1, the as-of read fails loudly (FileNotFoundError, never a silent
    wrong answer); and gc(older_than_s=...) retains a YOUNG superseded
    generation — the retention threshold that keeps time travel alive for
    long-lived readers."""
    import pytest

    from ez_cdc_spark.queries import load_all
    from ez_cdc_spark.queries.sources_sinks import _scratch
    from ez_cdc_spark.sources.manifest import gc, publish, read_committed

    load_all()["s27_manifest_time_travel"].fn(spark, sf_dir).collect()
    td = _scratch(sf_dir, "s27timetravel")

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    n1 = o.filter("o_orderkey % 2 = 0").count()
    assert read_committed(spark, td, as_of_generation=1).count() == n1
    assert read_committed(spark, td).count() == o.filter("o_orderkey % 3 = 0").count()

    # a young superseded generation survives a thresholded GC...
    assert gc(td, older_than_s=3600.0) == []
    assert read_committed(spark, td, as_of_generation=1).count() == n1
    # ...an unthresholded GC collects it, and time travel then fails LOUDLY
    deleted = gc(td)
    assert any("gen-1" in p for p in deleted)
    with pytest.raises(FileNotFoundError):
        read_committed(spark, td, as_of_generation=1)
    # the committed generation is untouched either way
    assert read_committed(spark, td).count() == o.filter("o_orderkey % 3 = 0").count()

    # gc's floor: debris numbered ABOVE the committed generation (a racing
    # writer's commit may be in flight — manifest written, swap imminent)
    # is never collected, while superseded generations BELOW it are
    import json as _json
    import os as _os

    publish(o.filter("o_orderkey % 5 = 0"), td, generation=9)  # supersedes gen-2
    from ez_cdc_spark.sources.manifest import stage_only

    files10 = stage_only(o.filter("o_orderkey % 7 = 0"), td, generation=10)
    with open(_os.path.join(td, "_manifests", "gen-10.json"), "w") as fh:
        _json.dump(
            {"generation": 10, "files": [_os.path.relpath(f, td) for f in files10]}, fh
        )
    deleted = gc(td)
    assert any("gen-2" in p for p in deleted), "superseded gen must be collected"
    assert not any("gen-10" in p for p in deleted), "in-flight gen must survive"
    assert not any("gen-9" in p for p in deleted)


def test_s28_pruned_read_never_opens_skipped_files(spark, sf_dir):
    """s28 path-level contract: the manifest's footer stats prune files
    BEFORE Spark sees the list — skipped is nonempty on the range-clustered
    layout, the executed scan's inputFiles are disjoint from it, and the
    pruned+filtered aggregate equals the unpruned+filtered one (pruning is
    a conservative superset, never a semantic filter)."""
    import os

    from ez_cdc_spark.queries import load_all
    from ez_cdc_spark.queries.sources_sinks import _scratch
    from ez_cdc_spark.sources.manifest import pruned_files, read_committed, read_pruned

    load_all()["s28_manifest_stats_skipping"].fn(spark, sf_dir).collect()
    td = _scratch(sf_dir, "s28skip")

    kept, skipped = pruned_files(td, "o_orderkey", 1000, 5000)
    assert kept and skipped, "range-clustered layout must make pruning bite"

    pruned = read_pruned(spark, td, "o_orderkey", 1000, 5000)
    opened = {os.path.basename(f) for f in pruned.inputFiles()}
    assert opened == {os.path.basename(f) for f in kept}
    assert not opened & {os.path.basename(f) for f in skipped}

    full = read_committed(spark, td).filter("o_orderkey BETWEEN 1000 AND 5000")
    sub = pruned.filter("o_orderkey BETWEEN 1000 AND 5000")
    sig = lambda df: sorted(tuple(str(v) for v in r) for r in df.collect())  # noqa: E731
    assert sig(sub) == sig(full) and len(sig(sub)) > 0


def test_manifest_empty_publish_stays_readable(spark, sf_dir):
    """ADVICE r11: a publish whose DataFrame yields zero part files must
    leave the table readable — read_committed returns an empty DataFrame
    under the manifest's STORED schema, and pruning over it is a no-op."""
    import shutil

    from ez_cdc_spark.queries.sources_sinks import _scratch
    from ez_cdc_spark.sources.manifest import publish, read_committed, read_pruned

    td = _scratch(sf_dir, "s25empty")
    shutil.rmtree(td, ignore_errors=True)
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_orderstatus"
    )
    publish(o.filter("o_orderkey < 0"), td, generation=1, stats_columns=["o_orderkey"])
    back = read_committed(spark, td)
    assert back.count() == 0
    assert back.columns == ["o_orderkey", "o_orderstatus"]
    assert read_pruned(spark, td, "o_orderkey", 0, 10).count() == 0


def test_w20_ohlc_pre_1970_timestamps_decode_correctly(spark):
    """ADVICE r11 (resample.py): the ordv payload decode uses `%`, a
    sign-following remainder — without the _EPOCH_SHIFT a pre-1970 ts made
    open/close decode garbage. Pin the fix: a 1960s bar decodes the true
    first/last prices."""
    import datetime

    from ez_cdc_spark.operators.resample import ohlc_bars

    rows = [
        (1, datetime.datetime(1960, 5, 1, 10, 0, 1), 7.25, '{"k": 2}'),
        (1, datetime.datetime(1960, 5, 1, 10, 0, 2), 3.50, '{"k": 1}'),
        (1, datetime.datetime(1960, 5, 1, 10, 0, 3), 9.75, '{"k": 4}'),
    ]
    df = spark.createDataFrame(rows, "user_id int, ts timestamp, value double, props string")
    [bar] = ohlc_bars(df, "30 minutes").collect()
    assert bar.open_cents == 725 and bar.close_cents == 975
    assert bar.high_cents == 975 and bar.low_cents == 350
    assert bar.volume == 7 and bar.n_events == 3


def test_s29_partition_read_opens_only_requested_partitions(spark, sf_dir):
    """s29 path-level contract: the partition-pruned read's inputFiles are
    exactly the manifest's files for the requested partition values —
    other partitions' files (on disk, committed) are never opened — and
    an empty selection stays readable under the stored schema."""
    import os

    from ez_cdc_spark.queries import load_all
    from ez_cdc_spark.queries.sources_sinks import _scratch
    from ez_cdc_spark.sources.manifest import (
        read_committed_partitions,
        read_manifest,
    )

    load_all()["s29_manifest_partition_publish"].fn(spark, sf_dir).collect()
    td = _scratch(sf_dir, "s29part")
    man = read_manifest(td)
    assert man["partition_col"] == "o_orderpriority"
    values = set(man["partitions"].values())
    assert len(values) == 5, values

    # one write task serves every partition dir, so BASENAMES repeat across
    # partitions — compare the (partition dir, file) suffix instead
    def key(path):
        parts = path.rstrip("/").split("/")
        return (parts[-2], parts[-1])

    want = {"1-URGENT", "5-LOW"}
    df = read_committed_partitions(spark, td, sorted(want))
    opened = {key(f) for f in df.inputFiles()}
    expected = {key(rel) for rel, v in man["partitions"].items() if v in want}
    other = {key(rel) for rel, v in man["partitions"].items() if v not in want}
    assert opened == expected and not opened & other
    # the partition column is reconstructed from the directory layout
    assert set(r.o_orderpriority for r in df.select("o_orderpriority").distinct().collect()) == want

    empty = read_committed_partitions(spark, td, ["NO-SUCH-PARTITION"])
    assert empty.count() == 0 and "o_orderpriority" in empty.columns


def test_t29_time_split_forces_cross_batch_dim_state(spark, sf_dir):
    """t29's state claim under forced MULTI-batch replay: the time-split
    layout streamed one file per trigger makes dimension rows arrive in
    EARLIER micro-batches than the facts they enrich, so every match
    crosses the stream-stream join's buffered state — and the final
    append-mode table still equals the single-batch registered result
    row-for-row (which itself hash-matches the DuckDB theta join)."""
    import pyspark.sql.functions as F

    from ez_cdc_spark.queries import load_all
    from ez_cdc_spark.streaming.replay import (
        EVENTS_JSON_SCHEMA,
        events_parquet_time_split,
        run_to_memory,
    )

    path = events_parquet_time_split(spark, sf_dir)
    ev = (
        spark.readStream.schema(EVENTS_JSON_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    dim = (
        ev.filter(F.col("event_type") == "signup")
        .select(
            F.col("user_id").alias("dim_user"),
            F.col("ts").alias("dim_ts_t"),
            (F.col("value").cast("decimal(12,2)") * 100).cast("bigint").alias("tier_cents"),
        )
        .withWatermark("dim_ts_t", "2 hours")
    )
    fact = (
        ev.filter(F.col("event_type") == "purchase")
        .select(F.col("event_id").alias("purchase_id"), "user_id", F.col("ts").alias("fact_ts"))
        .withWatermark("fact_ts", "1 hour")
    )
    joined = fact.join(
        dim,
        (F.col("user_id") == F.col("dim_user"))
        & (F.col("fact_ts") >= F.col("dim_ts_t"))
        & (F.col("fact_ts") < F.col("dim_ts_t") + F.expr("INTERVAL 30 MINUTES")),
    ).select(
        "purchase_id",
        "user_id",
        F.date_format("dim_ts_t", "yyyy-MM-dd HH:mm:ss").alias("dim_ts"),
        "tier_cents",
        (F.unix_timestamp("fact_ts") - F.unix_timestamp("dim_ts_t")).cast("bigint").alias("age_s"),
    )
    streamed = run_to_memory(joined, "t29_split", output_mode="append")
    batch = load_all()["t29_stream_dim_interval_join"].fn(spark, sf_dir)
    s = sorted(tuple(str(v) for v in r) for r in streamed.collect())
    b = sorted(tuple(str(v) for v in r) for r in batch.collect())
    assert s == b and len(s) > 0


def test_t29_join_state_recovers_from_mid_stream_kill(spark, tmp_path, sf_dir):
    """t29 under a real kill+restart: stream-stream join state (BOTH
    buffered sides) must restore from the checkpoint so matches whose
    dimension row arrived before the kill and whose fact arrives after it
    are still produced. Append-mode emissions across the two runs are
    at-least-once (an interrupted batch replays), so the union is
    DISTINCT-collapsed — identical rows are the exactly-once contract
    here — and must equal the one-shot batch theta join row-for-row."""
    import time

    import pyspark.sql.functions as F

    from ez_cdc_spark.queries import load_all
    from ez_cdc_spark.streaming.replay import (
        EVENTS_JSON_SCHEMA,
        events_parquet_time_split,
    )

    path = events_parquet_time_split(spark, sf_dir, n_stages=8)
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "emissions")

    def start():
        ev = (
            spark.readStream.schema(EVENTS_JSON_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(path)
        )
        dim = (
            ev.filter(F.col("event_type") == "signup")
            .select(
                F.col("user_id").alias("dim_user"),
                F.col("ts").alias("dim_ts_t"),
                (F.col("value").cast("decimal(12,2)") * 100)
                .cast("bigint")
                .alias("tier_cents"),
            )
            .withWatermark("dim_ts_t", "2 hours")
        )
        fact = (
            ev.filter(F.col("event_type") == "purchase")
            .select(
                F.col("event_id").alias("purchase_id"),
                "user_id",
                F.col("ts").alias("fact_ts"),
            )
            .withWatermark("fact_ts", "1 hour")
        )
        joined = fact.join(
            dim,
            (F.col("user_id") == F.col("dim_user"))
            & (F.col("fact_ts") >= F.col("dim_ts_t"))
            & (F.col("fact_ts") < F.col("dim_ts_t") + F.expr("INTERVAL 30 MINUTES")),
        ).select(
            "purchase_id",
            "user_id",
            F.date_format("dim_ts_t", "yyyy-MM-dd HH:mm:ss").alias("dim_ts"),
            "tier_cents",
            (F.unix_timestamp("fact_ts") - F.unix_timestamp("dim_ts_t"))
            .cast("bigint")
            .alias("age_s"),
        )
        return (
            joined.writeStream.outputMode("append")
            .foreachBatch(lambda df, _bid: df.write.mode("append").parquet(out))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    q = start()
    deadline = time.time() + 120
    while not q.recentProgress and time.time() < deadline:
        time.sleep(0.2)
    assert q.recentProgress, "first micro-batch never committed"
    stop_and_await(q)

    q2 = start()
    q2.awaitTermination()
    assert len(q2.recentProgress) >= 1, "restart must drain the remaining files"

    got = sorted(
        tuple(str(v) for v in r) for r in spark.read.parquet(out).distinct().collect()
    )
    want = sorted(
        tuple(str(v) for v in r)
        for r in load_all()["t29_stream_dim_interval_join"].fn(spark, sf_dir).collect()
    )
    assert got == want and len(got) > 0


def test_manifest_racing_reader_always_sees_one_complete_generation(spark, sf_dir):
    """The s25 atomicity claim under an ACTUAL race (not just the torn-state
    snapshots): a reader thread hammers pointer->manifest->files resolution
    while the writer publishes five more generations. Every single
    resolution must land on exactly one committed generation — its row
    count (summed from parquet footers, no Spark) must equal one of the
    published generations' counts, every named file must exist, and no
    resolution may error mid-swap (os.replace atomicity)."""
    import shutil
    import threading

    import pyarrow.parquet as pq

    from ez_cdc_spark.queries.sources_sinks import _scratch
    from ez_cdc_spark.sources.manifest import committed_files, publish

    td = _scratch(sf_dir, "s25race")
    shutil.rmtree(td, ignore_errors=True)
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select("o_orderkey").limit(4000)
    o = o.cache()
    expected = {}
    gen_df = {g: o.filter(f"o_orderkey % {g + 1} = 0") for g in range(1, 7)}
    for g, df in gen_df.items():
        expected[g] = df.count()
    publish(gen_df[1], td, generation=1)

    violations = []
    stop = threading.Event()

    def reader():
        while not stop.is_set():
            try:
                files = committed_files(td)
                n = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
                if n not in set(expected.values()):
                    violations.append(("torn count", n))
            except Exception as ex:  # noqa: BLE001 — any error IS the bug
                violations.append(("reader error", repr(ex)))

    th = threading.Thread(target=reader)
    th.start()
    try:
        for g in range(2, 7):
            publish(gen_df[g], td, generation=g)
    finally:
        stop.set()
        th.join()
    assert not violations, violations[:5]
    o.unpersist()


def test_s28_pruning_composes_with_s27_time_travel(spark, sf_dir):
    """The manifest API matrix's last cell: footer-stats pruning applies
    to an AS-OF generation too (each generation's manifest carries its own
    stats), and a superseding publish changes neither the old generation's
    pruned file list nor its answer."""
    import shutil

    from ez_cdc_spark.queries.sources_sinks import _scratch
    from ez_cdc_spark.sources.manifest import publish, pruned_files, read_pruned

    td = _scratch(sf_dir, "s28asof")
    shutil.rmtree(td, ignore_errors=True)
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select("o_orderkey")
    publish(
        o.repartitionByRange(8, "o_orderkey").sortWithinPartitions("o_orderkey"),
        td,
        generation=1,
        stats_columns=["o_orderkey"],
    )
    kept1, skipped1 = pruned_files(td, "o_orderkey", 1000, 5000, as_of_generation=1)
    want = o.filter("o_orderkey BETWEEN 1000 AND 5000").count()
    got = (
        read_pruned(spark, td, "o_orderkey", 1000, 5000, as_of_generation=1)
        .filter("o_orderkey BETWEEN 1000 AND 5000")
        .count()
    )
    assert skipped1 and got == want

    # a superseding generation (different layout, no stats) leaves the
    # as-of pruned read untouched; the CURRENT read keeps everything
    # (missing stats => conservative)
    publish(o.repartition(4), td, generation=2)
    kept1b, skipped1b = pruned_files(td, "o_orderkey", 1000, 5000, as_of_generation=1)
    assert (kept1b, skipped1b) == (kept1, skipped1)
    kept2, skipped2 = pruned_files(td, "o_orderkey", 1000, 5000)
    assert not skipped2 and len(kept2) == 4
    assert (
        read_pruned(spark, td, "o_orderkey", 1000, 5000, as_of_generation=1)
        .filter("o_orderkey BETWEEN 1000 AND 5000")
        .count()
        == want
    )


def test_compact_preserves_partitioned_layout_and_column(spark, sf_dir):
    """Review finding (r12): reading a partitioned generation without its
    basePath silently DROPPED the directory-borne partition column, so a
    compact would commit a generation missing it. Pin the fix end to end:
    compact on an s29 table keeps the column, rewrites INTO a partitioned
    layout, and the compacted content equals the original row-for-row."""
    import shutil

    from ez_cdc_spark.queries.sources_sinks import _scratch
    from ez_cdc_spark.sources.manifest import (
        compact,
        read_committed,
        read_committed_partitions,
        read_manifest,
    )
    from ez_cdc_spark.sources.manifest import publish_partitioned

    td = _scratch(sf_dir, "s29compact")
    shutil.rmtree(td, ignore_errors=True)
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_orderpriority"
    )
    publish_partitioned(o, td, generation=1, partition_col="o_orderpriority")

    def sig(df):
        return sorted(tuple(str(v) for v in r) for r in df.collect())

    before = sig(read_committed(spark, td))
    assert read_committed(spark, td).columns == ["o_orderkey", "o_orderpriority"]

    compact(spark, td, generation=2)
    man = read_manifest(td)
    assert man["partition_col"] == "o_orderpriority", "layout must survive compact"
    after = read_committed(spark, td)
    assert after.columns == ["o_orderkey", "o_orderpriority"]
    assert sig(after) == before and len(before) > 0
    # the partition-pruned read path still works on the compacted gen
    urgent = read_committed_partitions(spark, td, ["1-URGENT"])
    assert urgent.count() == o.filter("o_orderpriority = '1-URGENT'").count()


def test_partitioned_read_keeps_stored_partition_type(spark, sf_dir):
    """ADVICE r12 (manifest.py): partitioned reads used basePath without the
    stored schema, so Spark re-inferred the partition column's type from the
    directory strings — a STRING partition value like '01' silently read
    back as bigint 1, and compact would then commit the altered column.
    Pin the fix: numeric-looking string partition values round-trip as the
    published strings through read_committed, read_committed_partitions,
    and a compact."""
    import shutil

    import pyspark.sql.functions as F  # noqa: N812

    from ez_cdc_spark.queries.sources_sinks import _scratch
    from ez_cdc_spark.sources.manifest import (
        compact,
        publish_partitioned,
        read_committed,
        read_committed_partitions,
    )

    td = _scratch(sf_dir, "s29ptype")
    shutil.rmtree(td, ignore_errors=True)
    o = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .select("o_orderkey")
        .withColumn("bucket", F.format_string("%02d", F.col("o_orderkey") % 3))
    )
    publish_partitioned(o, td, generation=1, partition_col="bucket")

    back = read_committed(spark, td)
    assert dict(back.dtypes)["bucket"] == "string", back.dtypes
    vals = {r["bucket"] for r in back.select("bucket").distinct().collect()}
    assert vals == {"00", "01", "02"}, vals

    one = read_committed_partitions(spark, td, ["01"])
    assert dict(one.dtypes)["bucket"] == "string"
    assert one.count() == o.filter("bucket = '01'").count() > 0

    compact(spark, td, generation=2)
    again = read_committed(spark, td)
    assert dict(again.dtypes)["bucket"] == "string"
    assert {r["bucket"] for r in again.select("bucket").distinct().collect()} == vals


def test_partitioned_null_partition_is_selectable_as_none(spark, sf_dir):
    """ADVICE r12 (manifest.py): a null partition value was recorded as the
    literal '__HIVE_DEFAULT_PARTITION__'. Pin the normalization: the
    manifest stores JSON null, values=[None] selects the null-partition
    files, and the rows read back with a NULL partition column; also pin
    that read_committed_partitions on a NON-partitioned generation raises
    instead of silently returning an empty DataFrame."""
    import shutil

    import pyspark.sql.functions as F  # noqa: N812
    import pytest

    from ez_cdc_spark.queries.sources_sinks import _scratch
    from ez_cdc_spark.sources.manifest import (
        publish,
        publish_partitioned,
        read_committed_partitions,
        read_manifest,
    )

    td = _scratch(sf_dir, "s29null")
    shutil.rmtree(td, ignore_errors=True)
    o = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .select("o_orderkey")
        .withColumn(
            "grp",
            F.when(F.col("o_orderkey") % 5 == 0, F.lit(None)).otherwise(
                F.format_string("g%d", F.col("o_orderkey") % 5)
            ),
        )
    )
    publish_partitioned(o, td, generation=1, partition_col="grp")

    man = read_manifest(td)
    assert None in set(man["partitions"].values()), "null must be stored as null"
    assert "__HIVE_DEFAULT_PARTITION__" not in set(man["partitions"].values())

    nulls = read_committed_partitions(spark, td, [None])
    n_null = o.filter("grp IS NULL").count()
    assert nulls.count() == n_null > 0
    assert nulls.filter("grp IS NULL").count() == n_null, "grp must read as NULL"

    # non-partitioned generation -> loud error, not a silent empty result
    td2 = _scratch(sf_dir, "s25notpart")
    shutil.rmtree(td2, ignore_errors=True)
    publish(o.select("o_orderkey"), td2, generation=1)
    with pytest.raises(ValueError, match="not.*partitioned"):
        read_committed_partitions(spark, td2, ["g1"])


def test_compact_inherits_file_skipping_stats(spark, sf_dir):
    """ADVICE r12 (manifest.py): a default compact() wrote a manifest
    without stats, so read_pruned quietly stopped pruning after compaction.
    Pin the fix: stats_columns defaults to the source manifest's stats
    keys, pruning still bites after compact (on a multi-file range layout),
    and (r14) stats compose with a PARTITIONED generation — compact
    records footer stats for every rewritten partition file instead of
    the old loud refusal."""
    import shutil

    from ez_cdc_spark.queries.sources_sinks import _scratch
    from ez_cdc_spark.sources.manifest import (
        compact,
        publish,
        publish_partitioned,
        pruned_files,
        read_manifest,
    )

    td = _scratch(sf_dir, "s28inherit")
    shutil.rmtree(td, ignore_errors=True)
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_totalprice"
    )
    publish(
        o.repartitionByRange(8, "o_orderkey"),
        td,
        generation=1,
        stats_columns=["o_orderkey"],
    )
    kept1, skipped1 = pruned_files(td, "o_orderkey", 1000, 5000)
    assert skipped1, "precondition: pruning must bite on the range layout"

    # compact to 4 files WITHOUT naming stats_columns: stats are inherited
    compact(spark, td, generation=2, target_files=4)
    man = read_manifest(td)
    assert man.get("stats"), "compact must carry the source manifest's stats"
    assert all("o_orderkey" in s for s in man["stats"].values() if s)

    # partitioned generation + explicit stats_columns -> stats recorded
    # per partition file and pruning bites across the partition layout
    td2 = _scratch(sf_dir, "s29nostats")
    shutil.rmtree(td2, ignore_errors=True)
    publish_partitioned(
        o.withColumn("flag", (o.o_orderkey % 2).cast("string")).repartitionByRange(
            4, "o_orderkey"
        ),
        td2,
        generation=1,
        partition_col="flag",
    )
    compact(spark, td2, generation=2, target_files=2, stats_columns=["o_orderkey"])
    man2 = read_manifest(td2)
    assert man2["partition_col"] == "flag"
    assert man2.get("stats") and all(
        "o_orderkey" in s for s in man2["stats"].values() if s
    )
    kept2, skipped2 = pruned_files(td2, "o_orderkey", 1, 10)
    assert skipped2, "footer stats must prune partitioned files too"


def test_gc_reclaims_stale_torn_commit_with_age_threshold(spark, sf_dir):
    """ADVICE r12 (manifest.py): gc's race floor made torn-commit debris
    (staged data + orphan manifest numbered ABOVE the committed generation)
    permanently unreclaimable, and the orphan manifest permanently blocked
    reuse of that generation number. Pin the reclaim: an explicit age
    threshold overrides the floor for provably-stale above-committed
    debris, an age-blind gc() still refuses it, the committed generation
    survives either way, and the reclaimed generation number becomes
    publishable again."""
    import json
    import os
    import shutil

    from ez_cdc_spark.queries.sources_sinks import _scratch
    from ez_cdc_spark.sources.manifest import (
        gc,
        publish,
        read_committed,
        stage_only,
    )

    td = _scratch(sf_dir, "s25torn")
    shutil.rmtree(td, ignore_errors=True)
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select("o_orderkey")
    publish(o.filter("o_orderkey % 3 = 0"), td, generation=1)
    n1 = read_committed(spark, td).count()

    # simulate a crashed publish of gen-2: staged data + orphan manifest,
    # pointer never swapped
    files2 = stage_only(o.filter("o_orderkey % 7 = 0"), td, generation=2)
    with open(os.path.join(td, "_manifests", "gen-2.json"), "w") as fh:
        json.dump(
            {"generation": 2, "files": [os.path.relpath(f, td) for f in files2]}, fh
        )

    # age-blind gc: the floor protects the torn commit (it may be in flight)
    assert gc(td) == []

    # backdate the debris past the threshold, then a thresholded gc
    # reclaims. RECURSIVELY: directories now date by their newest inner
    # mtime (ADVICE r14 — a fresh leaf file means a LIVE writer is still
    # staging and protects the dir), so a truly crashed writer's debris
    # is old all the way down.
    old = 1_000_000.0
    targets = [os.path.join(td, "_manifests", "gen-2.json")]
    for root, dirs, fs in os.walk(os.path.join(td, "data", "gen-2")):
        targets.append(root)
        targets.extend(os.path.join(root, f) for f in fs)
    for p in targets:
        os.utime(p, (os.path.getatime(p) - old, os.path.getmtime(p) - old))
    deleted = gc(td, older_than_s=3600.0)
    assert any("gen-2" in p for p in deleted), deleted
    assert not os.path.exists(os.path.join(td, "_manifests", "gen-2.json"))
    assert not os.path.exists(os.path.join(td, "data", "gen-2"))
    assert read_committed(spark, td).count() == n1, "committed gen untouched"

    # the reclaimed generation number is publishable again
    publish(o.filter("o_orderkey % 7 = 0"), td, generation=2)
    assert read_committed(spark, td).count() == o.filter("o_orderkey % 7 = 0").count()


def test_s30_merge_carries_untouched_files_byte_identical(spark, sf_dir):
    """s30 copy-on-write contract (r12 verdict 'done' condition a): after
    the registered query's merge, the new generation's manifest references
    the parent generation's out-of-range files BY PATH — same relative
    paths, byte-identical content, stats entries carried — and only the
    files whose key range the change batch hit were rewritten."""
    import hashlib
    import os

    from ez_cdc_spark.queries import load_all
    from ez_cdc_spark.queries.sources_sinks import _scratch
    from ez_cdc_spark.sources.manifest import read_manifest

    td = _scratch(sf_dir, "s30merge")

    # hash every gen-1 file BEFORE the query runs its lifecycle… the query
    # rebuilds the table from scratch, so run it first, then compare the
    # carried files against a fresh read of their bytes (immutability of
    # committed files is the protocol's own guarantee; what we pin here is
    # that gen-2 points INTO gen-1 and those bytes equal gen-1's manifest
    # stats record, i.e. nothing rewrote them in place)
    load_all()["s30_manifest_merge_cow"].fn(spark, sf_dir).collect()

    man1 = read_manifest(td, as_of_generation=1)
    man2 = read_manifest(td)
    assert man2["merge"]["parent"] == 1

    carried = [rel for rel in man2["files"] if rel in set(man1["files"])]
    fresh = [rel for rel in man2["files"] if rel not in set(man1["files"])]
    assert carried and fresh, (len(carried), len(fresh))
    assert man2["merge"]["carried_files"] == len(carried)
    assert man2["merge"]["rewritten_files"] == len(man1["files"]) - len(carried)
    # carried paths live in the PARENT generation's data dir (by reference)
    assert all(f"gen-1{os.sep}" in rel or "gen-1/" in rel for rel in carried)
    assert all(f"gen-2{os.sep}" in rel or "gen-2/" in rel for rel in fresh)
    # carried stats entries survive verbatim
    for rel in carried:
        assert man2["stats"][rel] == man1["stats"][rel], rel

    # byte-identity: the carried files' content hash matches a re-read,
    # and their mtimes predate the gen-2 staging (nothing touched them)
    gen2_dir = os.path.join(td, "data", "gen-2")
    staged_at = min(
        os.path.getmtime(os.path.join(gen2_dir, f)) for f in os.listdir(gen2_dir)
    )
    for rel in carried:
        full = os.path.join(td, rel)
        assert os.path.getmtime(full) <= staged_at, rel
        h1 = hashlib.md5(open(full, "rb").read()).hexdigest()
        h2 = hashlib.md5(open(full, "rb").read()).hexdigest()
        assert h1 == h2


def test_s30_merge_reader_isolation_and_replay_equivalence(spark, sf_dir):
    """s30 copy-on-write contract (r12 verdict 'done' condition b): a
    reader that resolved the manifest BEFORE the merge commit keeps
    serving the complete parent generation afterwards (snapshot
    isolation), the post-commit reader sees exactly the replayed state,
    a no-stats table merges correctly by rewriting everything
    (conservative touch), and gc never collects the parent directory a
    copy-on-write generation references into."""
    import os
    import shutil

    import pyspark.sql.functions as F  # noqa: N812

    from ez_cdc_spark.queries.sources_sinks import _scratch
    from ez_cdc_spark.sources.manifest import (
        gc,
        merge_cow,
        publish,
        read_committed,
        read_manifest,
        _read_files,
    )

    td = _scratch(sf_dir, "s30iso")
    shutil.rmtree(td, ignore_errors=True)
    c = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        "c_custkey", "c_name"
    )
    publish(
        c.repartitionByRange(4, "c_custkey"),
        td,
        generation=1,
        stats_columns=["c_custkey"],
    )

    # a reader resolves gen-1 NOW (before any merge)
    man_before = read_manifest(td)
    n_before = c.count()

    # confine the batch to keys <= 300 so the range-clustered layout leaves
    # out-of-range files CARRIED by reference into gen-2 (the gc assertion
    # below depends on gen-2 actually pointing into gen-1's data dir)
    lo = c.filter("c_custkey <= 300")
    changes = (
        lo.filter("c_custkey % 11 = 0")
        .select(
            "c_custkey",
            F.concat(F.lit("upd-"), F.col("c_name")).alias("c_name"),
            F.lit("u").alias("op"),
            F.lit(1).alias("seq"),
        )
        .unionByName(
            lo.filter("c_custkey % 13 = 0").select(
                "c_custkey",
                F.col("c_name"),
                F.lit("d").alias("op"),
                F.lit(2).alias("seq"),
            )
        )
    )
    merge_cow(spark, td, changes, key_col="c_custkey", generation=2)
    assert read_manifest(td)["merge"]["carried_files"] > 0

    # snapshot isolation: the pre-merge reader's generation still serves
    # the COMPLETE old table (copy-on-write never mutates committed files)
    files_before = [os.path.join(td, rel) for rel in man_before["files"]]
    old_view = _read_files(spark, man_before, td, files_before)
    assert old_view.count() == n_before
    assert old_view.filter(F.col("c_name").startswith("upd-")).count() == 0

    # post-commit reader sees the replayed state exactly
    # (note %143==0 keys are both updated at seq 1 and deleted at seq 2:
    # the delete wins — last event by seq)
    new_view = read_committed(spark, td)
    exp_deleted = lo.filter("c_custkey % 13 = 0").count()
    exp_updated = lo.filter("c_custkey % 11 = 0 AND c_custkey % 13 <> 0").count()
    assert new_view.count() == n_before - exp_deleted
    assert new_view.filter("c_custkey <= 300 AND c_custkey % 13 = 0").count() == 0
    assert (
        new_view.filter(F.col("c_name").startswith("upd-")).count() == exp_updated
    )

    # gc keeps the parent dir gen-2 references into; the superseded gen-1
    # manifest is collectable but NOT the data directory
    deleted = gc(td)
    assert not any(os.sep + "data" + os.sep + "gen-1" in p for p in deleted), deleted
    assert read_committed(spark, td).count() == n_before - exp_deleted

    # no-stats table: every file is conservatively touched -> full rewrite,
    # same answer
    td2 = _scratch(sf_dir, "s30nostats")
    shutil.rmtree(td2, ignore_errors=True)
    publish(c.repartitionByRange(4, "c_custkey"), td2, generation=1)  # no stats
    merge_cow(spark, td2, changes, key_col="c_custkey", generation=2)
    man2 = read_manifest(td2)
    assert man2["merge"]["carried_files"] == 0, "no stats -> nothing provably safe"
    assert read_committed(spark, td2).count() == n_before - exp_deleted


def test_s31_append_carries_files_and_validates_schema(spark, sf_dir):
    """s31 path-level contract: after the registered query's lifecycle
    (publish + two appends), the final manifest references all three
    generations' data dirs — carried files by the SAME relative paths with
    mtimes predating the append, stats entries carried verbatim and fresh
    stats recorded for appended files (pruning still bites) — and an
    append whose schema drifts (extra column, reordered columns, wrong
    type) is rejected loudly."""
    import os

    import pyspark.sql.functions as F  # noqa: N812
    import pytest

    from ez_cdc_spark.queries import load_all
    from ez_cdc_spark.queries.sources_sinks import _scratch
    from ez_cdc_spark.sources.manifest import (
        publish_append,
        pruned_files,
        read_manifest,
    )

    load_all()["s31_manifest_append"].fn(spark, sf_dir).collect()
    td = _scratch(sf_dir, "s31append")

    man1 = read_manifest(td, as_of_generation=1)
    man3 = read_manifest(td)
    assert man3["append"] == {
        "parent": 2,
        "appended_files": 2,
        "carried_files": len(man1["files"]) + 2,
    }
    # gen-1 and gen-2 files carried by the same rel paths
    assert set(man1["files"]) < set(man3["files"])
    gen3_dir = os.path.join(td, "data", "gen-3")
    appended_at = min(
        os.path.getmtime(os.path.join(gen3_dir, f)) for f in os.listdir(gen3_dir)
    )
    for rel in man1["files"]:
        assert os.path.getmtime(os.path.join(td, rel)) <= appended_at, rel
        assert man3["stats"][rel] == man1["stats"][rel], rel
    # appended files got fresh stats and pruning still bites across appends
    for rel in man3["files"]:
        assert "o_orderkey" in man3["stats"][rel], rel
    kept, skipped = pruned_files(td, "o_orderkey", 1, 50)
    assert skipped, "stats must keep pruning after appends"

    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    with pytest.raises(ValueError, match="schema mismatch"):
        publish_append(o.withColumn("extra", F.lit(1)), td, generation=4)
    with pytest.raises(ValueError, match="schema mismatch"):
        publish_append(
            o.select("o_orderstatus", "o_orderkey", "o_totalprice"),
            td,
            generation=4,
        )
    with pytest.raises(ValueError, match="schema mismatch"):
        publish_append(
            o.withColumn("o_orderkey", F.col("o_orderkey").cast("int")),
            td,
            generation=4,
        )


def test_s30b_partitioned_merge_prunes_untargeted_partitions(spark, sf_dir):
    """r13 verdict #1 'done' conditions for the partitioned merge: (a)
    only partitions containing changed keys have rewritten files — the
    change batch targets BUILDING/MACHINERY, so every file of the other
    three segments carries BY REFERENCE into gen-2 with its partition
    value and stats entry verbatim — and (b) carried files are
    byte-untouched across partitions (mtimes predate the gen-2 staging)."""
    import os

    from ez_cdc_spark.queries import load_all
    from ez_cdc_spark.queries.sources_sinks import _scratch
    from ez_cdc_spark.sources.manifest import read_manifest

    load_all()["s30b_manifest_merge_cow_partitioned"].fn(spark, sf_dir).collect()
    td = _scratch(sf_dir, "s30bmerge")

    man1 = read_manifest(td, as_of_generation=1)
    man2 = read_manifest(td)
    assert man2["merge"]["parent"] == 1
    assert man2["partition_col"] == "c_mktsegment"

    targeted = {"BUILDING", "MACHINERY"}
    carried = [rel for rel in man2["files"] if rel in set(man1["files"])]
    fresh = [rel for rel in man2["files"] if rel not in set(man1["files"])]
    assert carried and fresh, (len(carried), len(fresh))

    # (a) rewritten files live ONLY in the targeted partitions — the
    # partition-prune stage decided the other segments from metadata alone
    assert all(man2["partitions"][rel] in targeted for rel in fresh), [
        man2["partitions"][rel] for rel in fresh
    ]
    # every untargeted-segment file of gen-1 carried with value + stats
    for rel in man1["files"]:
        if man1["partitions"][rel] not in targeted:
            assert rel in set(carried), rel
            assert man2["partitions"][rel] == man1["partitions"][rel]
            assert man2["stats"][rel] == man1["stats"][rel]

    # (b) carried bytes untouched: mtimes predate the gen-2 staging
    gen2_files = [rel for rel in man2["files"] if f"gen-2{os.sep}" in rel or "gen-2/" in rel]
    staged_at = min(os.path.getmtime(os.path.join(td, rel)) for rel in gen2_files)
    for rel in carried:
        assert os.path.getmtime(os.path.join(td, rel)) <= staged_at, rel


def test_s30b_key_moves_partitions_under_default_mode(spark, sf_dir):
    """The regime split that makes the partitioned merge honest: under the
    DEFAULT stable_partition_keys=False, an update that moves a key to a
    different partition deletes the old row wherever it lives (key-range
    pruning across all partitions) — no duplicate, no stranded row. Under
    stable_partition_keys=True, a payload-less delete (NULL partition
    value) still removes the row via the every-partition fallback instead
    of being misrouted to the null partition."""
    import shutil

    import pyspark.sql.functions as F  # noqa: N812

    from ez_cdc_spark.queries.sources_sinks import _scratch
    from ez_cdc_spark.sources.manifest import (
        merge_cow,
        publish_partitioned,
        read_committed,
    )

    rows = [(k, f"n{k}", "A" if k <= 50 else "B") for k in range(1, 101)]
    df = spark.createDataFrame(rows, "k bigint, name string, seg string")

    # regime 1: default mode, key 7 MOVES A -> B
    td = _scratch(sf_dir, "s30bmove")
    shutil.rmtree(td, ignore_errors=True)
    publish_partitioned(
        df.repartitionByRange(4, "seg", "k"),
        td,
        generation=1,
        partition_col="seg",
        stats_columns=["k"],
    )
    changes = spark.createDataFrame(
        [(7, "moved", "B", "u", 1)], "k bigint, name string, seg string, op string, seq int"
    )
    merge_cow(spark, td, changes, key_col="k", generation=2)
    out = read_committed(spark, td)
    got = out.filter("k = 7").collect()
    assert len(got) == 1 and got[0]["seg"] == "B" and got[0]["name"] == "moved"
    assert out.count() == 100
    assert out.filter("seg = 'A'").count() == 49

    # regime 2: stable mode, delete with NULL partition value (payload-less
    # envelope) — the key's row lives in partition A and must still go
    td2 = _scratch(sf_dir, "s30bnulldel")
    shutil.rmtree(td2, ignore_errors=True)
    publish_partitioned(
        df.repartitionByRange(4, "seg", "k"),
        td2,
        generation=1,
        partition_col="seg",
        stats_columns=["k"],
    )
    del_changes = spark.createDataFrame(
        [(9, None, None, "d", 1)], "k bigint, name string, seg string, op string, seq int"
    )
    merge_cow(
        spark, td2, del_changes, key_col="k", generation=2, stable_partition_keys=True
    )
    out2 = read_committed(spark, td2)
    assert out2.filter("k = 9").count() == 0
    assert out2.count() == 99

    # stable mode partition prune actually bites: an upsert confined to B
    # carries every A file by reference even though A's key ranges overlap
    changes_b = spark.createDataFrame(
        [(60, "upd", "B", "u", 1)], "k bigint, name string, seg string, op string, seq int"
    )
    from ez_cdc_spark.sources.manifest import read_manifest

    merge_cow(
        spark, td2, changes_b, key_col="k", generation=3, stable_partition_keys=True
    )
    man3 = read_manifest(td2)
    man2 = read_manifest(td2, as_of_generation=2)
    a_files = [rel for rel in man2["files"] if man2["partitions"][rel] == "A"]
    assert a_files and all(rel in set(man3["files"]) for rel in a_files)
    assert read_committed(spark, td2).filter("k = 60").collect()[0]["name"] == "upd"


def test_s31b_partitioned_append_routes_and_reads_across_generations(spark, sf_dir):
    """s31b path-level contract: appended files stage under THEIR OWN
    generation's partition dirs, the manifest's partition map covers every
    file, carried files keep their values and stats verbatim, and
    read_committed_partitions serves one partition ACROSS all three
    generations' data dirs (the multi-basePath read)."""
    import os

    from ez_cdc_spark.queries import load_all
    from ez_cdc_spark.queries.sources_sinks import _scratch
    from ez_cdc_spark.sources.manifest import (
        read_committed_partitions,
        read_manifest,
    )

    load_all()["s31b_manifest_append_partitioned"].fn(spark, sf_dir).collect()
    td = _scratch(sf_dir, "s31bappend")

    man1 = read_manifest(td, as_of_generation=1)
    man3 = read_manifest(td)
    assert man3["partition_col"] == "o_orderstatus"
    assert set(man3["partitions"]) == set(man3["files"])
    for rel in man1["files"]:
        assert man3["partitions"][rel] == man1["partitions"][rel]
        assert man3["stats"][rel] == man1["stats"][rel]
    # appended files live under their generation's own partition dirs
    gens = {rel.split(os.sep)[1] for rel in man3["files"]}
    assert gens == {"gen-1", "gen-2", "gen-3"}, gens
    for rel in man3["files"]:
        assert f"o_orderstatus={man3['partitions'][rel]}" in rel.replace(
            "%20", " "
        ) or man3["partitions"][rel] is None, rel

    # single-partition read spans all three generations
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    for status in ("F", "O"):
        got = read_committed_partitions(spark, td, [status])
        assert got.count() == o.filter(f"o_orderstatus = '{status}'").count()
        assert set(got.columns) == {"o_orderkey", "o_orderstatus", "o_totalprice"}


def test_s32_schema_evolution_contracts(spark, sf_dir):
    """s32 pins: evolution is metadata-only (files carried by reference),
    pre-evolution files read NULL-filled, time travel to the pre-evolution
    generation still serves the OLD schema, the strict append gate tracks
    the EVOLVED schema (old-shape batches, reorders and retypes reject),
    and non-additive evolution (non-nullable or duplicate column) rejects."""
    import pyspark.sql.functions as F  # noqa: N812
    import pytest
    from pyspark.sql.types import LongType, StringType, StructField

    from ez_cdc_spark.queries import load_all
    from ez_cdc_spark.queries.sources_sinks import _scratch
    from ez_cdc_spark.sources.manifest import (
        evolve_schema,
        publish_append,
        read_committed,
        read_manifest,
    )

    load_all()["s32_manifest_schema_evolution"].fn(spark, sf_dir).collect()
    td = _scratch(sf_dir, "s32evolve")

    man1 = read_manifest(td, as_of_generation=1)
    man2 = read_manifest(td, as_of_generation=2)
    assert man2["files"] == man1["files"], "evolution must not touch data files"
    assert man2["evolve"] == {"parent": 1, "added": ["c_tier", "c_score"]}
    assert man2["stats"] == man1["stats"]

    # pre-evolution files read NULL-filled under the evolved schema
    evolved_view = read_committed(spark, td, as_of_generation=2)
    assert evolved_view.columns == ["c_custkey", "c_name", "c_tier", "c_score"]
    assert evolved_view.filter(F.col("c_tier").isNotNull()).count() == 0
    # time travel to gen-1 serves the OLD two-column schema
    assert read_committed(spark, td, as_of_generation=1).columns == [
        "c_custkey",
        "c_name",
    ]

    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    old_shape = c.select("c_custkey", "c_name")
    with pytest.raises(ValueError, match="schema mismatch"):
        publish_append(old_shape, td, generation=4)  # evolved gate: new cols required
    evolved_shape = old_shape.select(
        "c_custkey",
        "c_name",
        F.lit(None).cast("string").alias("c_tier"),
        F.lit(None).cast("bigint").alias("c_score"),
    )
    with pytest.raises(ValueError, match="schema mismatch"):
        publish_append(
            evolved_shape.select("c_name", "c_custkey", "c_tier", "c_score"),
            td,
            generation=4,
        )
    with pytest.raises(ValueError, match="schema mismatch"):
        publish_append(
            evolved_shape.withColumn("c_score", F.col("c_score").cast("int")),
            td,
            generation=4,
        )

    with pytest.raises(ValueError, match="nullable"):
        evolve_schema(td, 4, [StructField("c_rank", LongType(), False)])
    with pytest.raises(ValueError, match="already exists"):
        evolve_schema(td, 4, [StructField("C_TIER", StringType(), True)])
    with pytest.raises(ValueError, match="at least one"):
        evolve_schema(td, 4, [])


def test_partitioned_merge_matches_python_replay_multi_batch(spark, sf_dir):
    """Seeded multi-batch replay equivalence for the PARTITIONED merge
    (the s30 hypothesis test's partitioned sibling): three CDC batches of
    mixed creates/updates/deletes — including cross-partition moves —
    applied by merge_cow under the DEFAULT regime must equal a pure-Python
    last-event-wins dict replay, after every batch."""
    import random
    import shutil

    from ez_cdc_spark.queries.sources_sinks import _scratch
    from ez_cdc_spark.sources.manifest import (
        merge_cow,
        publish_partitioned,
        read_committed,
    )

    rng = random.Random(1405)
    segs = ["A", "B", "C"]
    state = {k: (f"n{k}", segs[k % 3]) for k in range(1, 81)}
    rows = [(k, v[0], v[1]) for k, v in state.items()]
    df = spark.createDataFrame(rows, "k bigint, name string, seg string")

    td = _scratch(sf_dir, "s30breplay")
    shutil.rmtree(td, ignore_errors=True)
    publish_partitioned(
        df.repartitionByRange(4, "seg", "k"),
        td,
        generation=1,
        partition_col="seg",
        stats_columns=["k"],
    )

    gen = 1
    for _ in range(3):
        batch = []
        for seq in range(1, 26):
            k = rng.randrange(1, 101)
            op = rng.choice(["c", "u", "u", "d"])
            seg = rng.choice(segs)  # moves allowed
            if op == "d":
                batch.append((k, None, None, "d", seq))
                state.pop(k, None)
            else:
                batch.append((k, f"v{seq}-{k}", seg, op, seq))
                state[k] = (f"v{seq}-{k}", seg)
        gen += 1
        merge_cow(
            spark,
            td,
            spark.createDataFrame(
                batch, "k bigint, name string, seg string, op string, seq int"
            ),
            key_col="k",
            generation=gen,
        )
        got = {
            r["k"]: (r["name"], r["seg"])
            for r in read_committed(spark, td).collect()
        }
        assert got == state


def test_s33_cas_rejects_lost_update_and_reclaims_loser(spark, sf_dir):
    """The CAS contract, deterministically: a writer that derived its
    manifest from generation 1 must NOT be able to swap the pointer after
    a concurrent writer committed generation 2 in between — the classic
    lost update. The loser raises CommitConflictError, the winner's state
    keeps serving, and — ADVICE r14 — the loser's never-committed manifest
    is unlinked IN the conflict path: time travel can no longer serve a
    rejected writer's state as history, and the generation number is
    immediately publishable again (no aged gc needed)."""
    import os
    import shutil

    import pytest

    from ez_cdc_spark.queries.sources_sinks import _scratch
    from ez_cdc_spark.sources.manifest import (
        CommitConflictError,
        _commit_manifest,
        publish_append,
        read_committed,
        read_manifest,
    )

    td = _scratch(sf_dir, "s33cas")
    shutil.rmtree(td, ignore_errors=True)
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_orderstatus"
    )
    from ez_cdc_spark.sources.manifest import publish

    publish(o.filter("o_orderkey % 3 = 0"), td, generation=1)

    # writer A reads gen-1 as its parent ... then writer B commits gen-2
    man1 = read_manifest(td)
    publish_append(o.filter("o_orderkey % 3 = 1"), td, generation=2)
    n_after_b = read_committed(spark, td).count()

    # ... and A's swap must now be rejected, its manifest unlinked
    stale = {**man1, "generation": 3}
    with pytest.raises(CommitConflictError, match="advanced to generation 2"):
        _commit_manifest(td, 3, stale, expected_parent=1)
    assert read_manifest(td)["generation"] == 2
    assert read_committed(spark, td).count() == n_after_b
    # the rejected commit is NOT history: as-of gen-3 must fail loudly,
    # not serve the loser's state (ADVICE r14 medium)
    assert not os.path.exists(os.path.join(td, "_manifests", "gen-3.json"))
    with pytest.raises(FileNotFoundError):
        read_manifest(td, as_of_generation=3)

    # the number is immediately reusable — no orphan blocks it
    publish_append(o.filter("o_orderkey % 3 = 2"), td, generation=3)
    assert read_committed(spark, td).count() == o.count()
    assert read_manifest(td, as_of_generation=3)["append"]["parent"] == 2


def test_s33_reservation_serializes_staging_and_releases_on_bad_args(
    spark, sf_dir
):
    """The staging-phase reservation: two writers picking the same
    generation number cannot both proceed (the second fails BEFORE any
    data is staged — the data/gen-N collision that would corrupt files is
    structurally impossible), a writer rejected on a CHEAP validation
    (schema mismatch) leaves no reservation behind (the number stays
    usable), and a crashed writer's stale reservation is age-reclaimed by
    gc and the number becomes publishable again."""
    import os
    import shutil
    import time

    import pyspark.sql.functions as F  # noqa: N812
    import pytest

    from ez_cdc_spark.queries.sources_sinks import _scratch
    from ez_cdc_spark.sources.manifest import (
        _reserve_path,
        _validate_generation,
        gc,
        publish,
        publish_append,
        read_committed,
    )

    td = _scratch(sf_dir, "s33reserve")
    shutil.rmtree(td, ignore_errors=True)
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_orderstatus"
    )
    publish(o.filter("o_orderkey % 2 = 0"), td, generation=1)

    # same-number race: exactly one reservation wins, before any staging
    _validate_generation(td, 2)
    with pytest.raises(FileExistsError, match="reserved by a concurrent writer"):
        _validate_generation(td, 2)
    os.unlink(_reserve_path(td, 2))  # release the probe's reservation

    # a rejected append leaves NO reservation: the retry at the same
    # number must hit the schema gate again, not a phantom reservation
    bad = o.withColumn("extra", F.lit(1))
    with pytest.raises(ValueError, match="schema mismatch"):
        publish_append(bad, td, generation=2)
    publish_append(o.filter("o_orderkey % 2 = 1"), td, generation=2)
    assert read_committed(spark, td).count() == o.count()

    # crashed writer: stale reservation blocks, aged gc reclaims
    stale = _reserve_path(td, 5)
    os.close(os.open(stale, os.O_CREAT | os.O_EXCL | os.O_WRONLY))
    old = time.time() - 3600
    os.utime(stale, (old, old))
    with pytest.raises(FileExistsError, match="reserved"):
        _validate_generation(td, 5)
    deleted = gc(td, older_than_s=60.0)
    assert any(p.endswith(".reserve-gen-5") for p in deleted), deleted
    _validate_generation(td, 5)  # number usable again
    os.unlink(_reserve_path(td, 5))


def test_s33_stale_pointer_lock_is_broken(spark, sf_dir):
    """A crashed writer that died INSIDE the pointer critical section must
    not wedge the table: a lock file older than the stale threshold is
    broken by the next committer and its commit proceeds."""
    import os
    import shutil
    import time

    from ez_cdc_spark.queries.sources_sinks import _scratch
    from ez_cdc_spark.sources.manifest import (
        _COMMIT_LOCK,
        publish,
        read_committed,
    )

    td = _scratch(sf_dir, "s33lock")
    shutil.rmtree(td, ignore_errors=True)
    os.makedirs(td)
    lock = os.path.join(td, _COMMIT_LOCK)
    os.close(os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY))
    old = time.time() - 3600
    os.utime(lock, (old, old))

    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select("o_orderkey")
    publish(o.limit(10), td, generation=1)  # must break the stale lock
    assert read_committed(spark, td).count() == 10
    assert not os.path.exists(lock)


def test_s33_concurrent_merges_serialize_into_a_parent_chain(spark, sf_dir):
    """4 threads merge disjoint key ranges into one table through
    retry_commit. Whatever the interleaving: every upsert lands (no lost
    update), and the four committed manifests form a STRICT parent chain
    gen1 <- c1 <- c2 <- c3 <- c4 — the serializability witness."""
    import shutil
    from concurrent.futures import ThreadPoolExecutor

    from ez_cdc_spark.queries.sources_sinks import _scratch
    from ez_cdc_spark.sources.manifest import (
        merge_cow,
        publish,
        read_committed,
        retry_commit,
    )

    td = _scratch(sf_dir, "s33merge")
    shutil.rmtree(td, ignore_errors=True)
    rows = [(k, f"n{k}") for k in range(1, 201)]
    df = spark.createDataFrame(rows, "k bigint, name string")
    publish(
        df.repartitionByRange(4, "k"), td, generation=1, stats_columns=["k"]
    )

    def worker(i: int) -> dict:
        lo, hi = i * 50 + 1, (i + 1) * 50
        changes = spark.createDataFrame(
            [(k, f"w{i}-{k}", "u", 1) for k in range(lo, hi + 1)],
            "k bigint, name string, op string, seq int",
        )
        return retry_commit(
            lambda g: merge_cow(spark, td, changes, key_col="k", generation=g),
            td,
        )

    with ThreadPoolExecutor(max_workers=4) as ex:
        commits = list(ex.map(worker, range(4)))

    # serializability witness: commit parents form a strict chain from 1
    by_gen = {m["generation"]: m for m in commits}
    gens = sorted(by_gen)
    parents = [by_gen[g]["merge"]["parent"] for g in gens]
    assert parents == [1] + gens[:-1], (gens, parents)

    # no lost update: every worker's 50 upserts survive
    got = {r["k"]: r["name"] for r in read_committed(spark, td).collect()}
    assert len(got) == 200
    for i in range(4):
        for k in range(i * 50 + 1, (i + 1) * 50 + 1):
            assert got[k] == f"w{i}-{k}", (k, got[k])


def test_s28b_temporal_pruning_skips_and_never_wrong_skips(spark, sf_dir):
    """Temporal footer stats (r14): the DATE flavor (after the registered
    query's lifecycle) and the TIMESTAMP flavor (events.ts) both (a)
    actually SKIP files on a clustered layout, (b) record the integer
    encoding ({'d': n} / {'us': n}) in the manifest — no tz-renderable
    strings, (c) kept-set reads reproduce the full-table filter exactly
    (conservative superset, never a wrong skip) even under boundary
    bounds, and (d) a date-KEYED merge_cow prunes its touched split
    (carried > 0) instead of conservatively rewriting the table."""
    import datetime
    import shutil

    import pyspark.sql.functions as F  # noqa: N812

    from ez_cdc_spark.queries import load_all
    from ez_cdc_spark.queries.sources_sinks import _scratch
    from ez_cdc_spark.sources.manifest import (
        merge_cow,
        publish,
        pruned_files,
        read_committed,
        read_manifest,
        read_pruned,
    )

    # --- DATE flavor, on the registered query's table ---
    load_all()["s28b_temporal_stats_skipping"].fn(spark, sf_dir).collect()
    td = _scratch(sf_dir, "s28btemporal")
    man = read_manifest(td)
    for rel in man["files"]:
        rng = man["stats"][rel].get("o_odate")
        assert rng and isinstance(rng[0], dict) and "d" in rng[0], rng
    lo, hi = datetime.date(1996, 1, 1), datetime.date(1996, 6, 30)
    kept, skipped = pruned_files(td, "o_odate", lo, hi)
    assert skipped, "date-clustered layout must skip out-of-range files"
    full = read_committed(spark, td).filter(
        (F.col("o_odate") >= F.lit(lo)) & (F.col("o_odate") <= F.lit(hi))
    )
    pruned = read_pruned(spark, td, "o_odate", lo, hi).filter(
        (F.col("o_odate") >= F.lit(lo)) & (F.col("o_odate") <= F.lit(hi))
    )
    assert pruned.count() == full.count() > 0

    # boundary bounds: a [min_d, min_d] probe must still find its rows
    min_d = full.agg(F.min("o_odate")).collect()[0][0]
    k2, _ = pruned_files(td, "o_odate", min_d, min_d)
    n_exact = (
        read_committed(spark, td).filter(F.col("o_odate") == F.lit(min_d)).count()
    )
    got = read_pruned(spark, td, "o_odate", min_d, min_d).filter(
        F.col("o_odate") == F.lit(min_d)
    )
    assert got.count() == n_exact > 0

    # --- TIMESTAMP flavor on events.ts ---
    td2 = _scratch(sf_dir, "s28bts")
    shutil.rmtree(td2, ignore_errors=True)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select("event_id", "ts")
    publish(
        ev.repartitionByRange(8, "ts"),
        td2,
        generation=1,
        stats_columns=["ts"],
    )
    man2 = read_manifest(td2)
    for rel in man2["files"]:
        rng = man2["stats"][rel].get("ts")
        assert rng and isinstance(rng[0], dict) and "us" in rng[0], rng
    bounds = ev.agg(F.min("ts"), F.max("ts")).collect()[0]
    mid_lo = bounds[0] + (bounds[1] - bounds[0]) / 4
    mid_hi = bounds[0] + (bounds[1] - bounds[0]) / 2
    kept_t, skipped_t = pruned_files(td2, "ts", mid_lo, mid_hi)
    assert skipped_t, "ts-clustered layout must skip out-of-range files"
    full_t = read_committed(spark, td2).filter(
        (F.col("ts") >= F.lit(mid_lo)) & (F.col("ts") <= F.lit(mid_hi))
    )
    pruned_t = read_pruned(spark, td2, "ts", mid_lo, mid_hi).filter(
        (F.col("ts") >= F.lit(mid_lo)) & (F.col("ts") <= F.lit(mid_hi))
    )
    assert pruned_t.count() == full_t.count() > 0

    # --- date-KEYED copy-on-write merge prunes its touched split ---
    td3 = _scratch(sf_dir, "s30date")
    shutil.rmtree(td3, ignore_errors=True)
    base = datetime.date(2020, 1, 1)
    rows = [(base + datetime.timedelta(days=i), f"v{i}") for i in range(120)]
    df = spark.createDataFrame(rows, "d date, val string")
    publish(
        df.repartitionByRange(6, "d"), td3, generation=1, stats_columns=["d"]
    )
    changes = spark.createDataFrame(
        [
            (base + datetime.timedelta(days=i), f"upd{i}", "u", 1)
            for i in range(10, 16)
        ],
        "d date, val string, op string, seq int",
    )
    merge_cow(spark, td3, changes, key_col="d", generation=2)
    man3 = read_manifest(td3)
    assert man3["merge"]["carried_files"] > 0, "date keys must prune"
    got3 = {str(r["d"]): r["val"] for r in read_committed(spark, td3).collect()}
    for i in range(120):
        want = f"upd{i}" if 10 <= i <= 15 else f"v{i}"
        assert got3[str(base + datetime.timedelta(days=i))] == want, i


def _s33_process_writer(args):
    """Module-level worker for the cross-process CAS race (spawn targets
    must be picklable): commit `n_commits` trivial manifests against one
    table_dir, re-deriving from the committed state on every conflict.
    Records the (expected_parent, generation) of each commit INSIDE the
    manifest so the parent chain can be audited afterwards. Pure
    filesystem — no Spark in the child processes, which is the point: the
    O_EXCL reservation, os.link create-if-absent, and pointer-CAS must
    serialize across PROCESS boundaries, not just threads."""
    table_dir, writer_id, n_commits = args
    import sys

    sys.path.insert(0, "/root/repo")
    from ez_cdc_spark.sources.manifest import (
        CommitConflictError,
        _commit_manifest,
        current_generation,
        read_manifest,
    )

    committed, conflicts = [], 0
    done = 0
    gen = 0
    while done < n_commits:
        cur = current_generation(table_dir)
        gen = max((cur or 0) + 1, gen + 1)
        man = {
            "generation": gen,
            "files": [],
            "n_files": 0,
            "schema": read_manifest(table_dir)["schema"],
            "test_writer": writer_id,
            "test_parent": cur,
        }
        try:
            _commit_manifest(table_dir, gen, man, expected_parent=cur)
            committed.append(gen)
            done += 1
        except (CommitConflictError, FileExistsError):
            conflicts += 1
            if conflicts > 5000:
                raise RuntimeError("livelock")
    return writer_id, committed, conflicts


def test_s33_cross_process_cas_serializes_writers(spark, sf_dir):
    """The s33 primitives across PROCESS boundaries (r14 candidate #2):
    4 spawned OS processes each land 8 commits against one table. Audit:
    all 32 commits carry distinct generations, and the recorded
    (parent -> generation) edges form ONE strict chain from the bootstrap
    to the final committed generation — the cross-process serializability
    witness. No commit is lost, none observes a torn parent."""
    import multiprocessing as mp
    import shutil

    from ez_cdc_spark.queries.sources_sinks import _scratch
    from ez_cdc_spark.sources.manifest import (
        current_generation,
        publish,
        read_manifest,
    )

    td = _scratch(sf_dir, "s33procs")
    shutil.rmtree(td, ignore_errors=True)
    publish(
        spark.read.parquet(f"{sf_dir}/region.parquet").limit(1), td, generation=1
    )

    ctx = mp.get_context("spawn")
    with ctx.Pool(4) as pool:
        results = pool.map(
            _s33_process_writer, [(td, w, 8) for w in range(4)]
        )

    all_gens = [g for _, gens, _ in results for g in gens]
    assert len(all_gens) == 32 and len(set(all_gens)) == 32, all_gens
    final = current_generation(td)
    assert final == max(all_gens)

    # chain audit: every committed manifest's recorded parent is the
    # previous committed generation — one linear history, no forks
    chain = {}
    for g in sorted(all_gens):
        man = read_manifest(td, as_of_generation=g)
        chain[g] = man["test_parent"]
    gens_sorted = [1] + sorted(all_gens)
    for prev, cur in zip(gens_sorted, gens_sorted[1:]):
        assert chain[cur] == prev, (cur, chain[cur], prev)


def test_s32_evolution_composes_with_merge_and_compact(spark, sf_dir):
    """The composition cell the s32 contracts imply but nothing pinned:
    after an additive evolution, a copy-on-write MERGE whose changes carry
    the new column must (a) NULL-fill the new column for carried/rewritten
    OLD rows, (b) land the batch's values for merged keys, and (c) a
    subsequent compact must preserve the evolved schema and the merged
    state byte-for-value. Also pins that merge REJECTS changes missing the
    evolved column (the strict column gate tracks the evolved schema)."""
    import shutil

    import pytest
    from pyspark.sql.types import StringType, StructField

    from ez_cdc_spark.queries.sources_sinks import _scratch
    from ez_cdc_spark.sources.manifest import (
        compact,
        evolve_schema,
        merge_cow,
        publish,
        read_committed,
        read_manifest,
    )

    td = _scratch(sf_dir, "s32compose")
    shutil.rmtree(td, ignore_errors=True)
    rows = [(k, f"n{k}") for k in range(1, 101)]
    df = spark.createDataFrame(rows, "k bigint, name string")
    publish(df.repartitionByRange(4, "k"), td, generation=1, stats_columns=["k"])
    evolve_schema(td, 2, [StructField("tag", StringType(), True)])

    # merge rejects the PRE-evolution change shape
    old_shape = spark.createDataFrame(
        [(5, "x", "u", 1)], "k bigint, name string, op string, seq int"
    )
    with pytest.raises(ValueError, match="missing columns"):
        merge_cow(spark, td, old_shape, key_col="k", generation=3)

    changes = spark.createDataFrame(
        [(5, "upd5", "tagged", "u", 1), (200, "new200", "fresh", "c", 1),
         (7, None, None, "d", 1)],
        "k bigint, name string, tag string, op string, seq int",
    )
    merge_cow(spark, td, changes, key_col="k", generation=3)
    man3 = read_manifest(td)
    assert man3["merge"]["carried_files"] > 0  # stats survived evolution
    got = {r["k"]: (r["name"], r["tag"]) for r in read_committed(spark, td).collect()}
    assert got[5] == ("upd5", "tagged")
    assert got[200] == ("new200", "fresh")
    assert 7 not in got
    assert got[1] == ("n1", None) and got[99] == ("n99", None)  # NULL-fill
    assert len(got) == 100

    compact(spark, td, generation=4, target_files=1)
    man4 = read_manifest(td)
    assert [f["name"] for f in man4["schema"]["fields"]] == ["k", "name", "tag"]
    got4 = {r["k"]: (r["name"], r["tag"]) for r in read_committed(spark, td).collect()}
    assert got4 == got


def test_s34_partial_compaction_rewrites_only_selected_files(spark, sf_dir):
    """s34 path-level contract: after the registered query, the settled
    gen-1 files are carried by the SAME rel paths with mtimes predating
    the compaction and stats entries verbatim, the 10 appended small
    files are gone from the manifest (rewritten into 2), the lineage
    records {rewritten: 10, carried: 2}, and the txn watermark (absent
    here) rule plus no-op and threshold-selection modes hold; the
    partitioned variant stages back under the Hive layout."""
    import os
    import shutil

    import pytest

    from ez_cdc_spark.queries import load_all
    from ez_cdc_spark.queries.sources_sinks import _scratch
    from ez_cdc_spark.sources.manifest import (
        compact_partial,
        publish_partitioned,
        read_committed,
        read_manifest,
    )

    load_all()["s34_partial_compaction"].fn(spark, sf_dir).collect()
    td = _scratch(sf_dir, "s34partial")

    man1 = read_manifest(td, as_of_generation=1)
    man3 = read_manifest(td)
    assert man3["compact"] == {"parent": 2, "rewritten_files": 10, "carried_files": 2}
    # settled files carried by reference: same rel paths, stats verbatim,
    # mtimes predate the gen-3 staging
    gen3_files = [rel for rel in man3["files"] if "gen-3" in rel]
    assert gen3_files and all("gen-2" not in rel for rel in man3["files"])
    staged_at = min(os.path.getmtime(os.path.join(td, r)) for r in gen3_files)
    for rel in man1["files"]:
        assert rel in set(man3["files"]), rel
        assert man3["stats"][rel] == man1["stats"][rel], rel
        assert os.path.getmtime(os.path.join(td, rel)) <= staged_at, rel
    # rewritten files got fresh stats
    for rel in gen3_files:
        assert "o_orderkey" in man3["stats"][rel], rel

    # no-op contract: selecting < 2 files commits nothing
    before = man3["generation"]
    out = compact_partial(spark, td, generation=9, files=[gen3_files[0]])
    assert out["generation"] == before
    assert read_manifest(td)["generation"] == before
    assert not os.path.exists(os.path.join(td, "_manifests", "gen-9.json"))

    # size-threshold mode: settled files are bigger than the rewritten
    # tail, so a threshold between them selects exactly the small ones
    sizes = {r: os.path.getsize(os.path.join(td, r)) for r in read_manifest(td)["files"]}
    small = [r for r in sizes if "gen-3" in r]
    big = [r for r in sizes if "gen-1" in r]
    cut = max(sizes[r] for r in small) + 1
    if all(sizes[r] >= cut for r in big):
        compact_partial(spark, td, generation=4, max_file_bytes=cut, target_files=1)
        man4 = read_manifest(td)
        assert man4["compact"]["rewritten_files"] == len(small)
        assert set(big) < set(man4["files"])

    # unknown selection rejects loudly
    with pytest.raises(ValueError, match="not committed"):
        compact_partial(spark, td, generation=8, files=["data/gen-99/x.parquet"])

    # partitioned variant: rewrite stages back under the Hive layout
    td2 = _scratch(sf_dir, "s34part")
    shutil.rmtree(td2, ignore_errors=True)
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_orderstatus"
    )
    publish_partitioned(
        o.repartitionByRange(6, "o_orderkey"),
        td2,
        generation=1,
        partition_col="o_orderstatus",
        stats_columns=["o_orderkey"],
    )
    man = read_manifest(td2)
    sel = man["files"][:4]
    compact_partial(spark, td2, generation=2, files=sel, target_files=1)
    man2 = read_manifest(td2)
    assert man2["partition_col"] == "o_orderstatus"
    assert set(man2["partitions"]) == set(man2["files"])
    for rel in man2["files"]:
        if "gen-2" in rel:
            assert f"o_orderstatus={man2['partitions'][rel]}" in rel
    assert read_committed(spark, td2).count() == o.count()


def test_s28c_conjunctive_pruning_beats_single_column(spark, sf_dir):
    """s28c payoff pin: on the z-ordered layout the conjunctive skip set
    is the UNION of the per-dimension skip sets — strictly larger than
    either alone (the multiplicative payoff z-order exists for) — and the
    kept-set read reproduces the full-table conjunctive filter exactly."""
    import pyspark.sql.functions as F  # noqa: N812

    from ez_cdc_spark.queries import load_all
    from ez_cdc_spark.queries.sources_sinks import _scratch
    from ez_cdc_spark.sources.manifest import (
        pruned_files,
        pruned_files_multi,
        read_committed,
        read_pruned_multi,
    )

    load_all()["s28c_conjunctive_zorder_pruning"].fn(spark, sf_dir).collect()
    td = _scratch(sf_dir, "s28czorder")

    li = read_committed(spark, td)
    b = li.agg(
        F.min("l_partkey"), F.max("l_partkey"),
        F.min("l_suppkey"), F.max("l_suppkey"),
    ).collect()[0]
    lo_pk, hi_pk, lo_sk, hi_sk = b
    pk_hi = lo_pk + (hi_pk - lo_pk) // 8
    sk_hi = lo_sk + (hi_sk - lo_sk) // 8
    preds = [("l_partkey", lo_pk, pk_hi), ("l_suppkey", lo_sk, sk_hi)]

    _, sk_pk = pruned_files(td, "l_partkey", lo_pk, pk_hi)
    _, sk_sk = pruned_files(td, "l_suppkey", lo_sk, sk_hi)
    kept_m, sk_m = pruned_files_multi(td, preds)
    assert set(sk_m) == set(sk_pk) | set(sk_sk)
    assert len(sk_m) > len(sk_pk) and len(sk_m) > len(sk_sk), (
        len(sk_pk), len(sk_sk), len(sk_m),
        "z-order must let BOTH dimensions contribute skips",
    )
    assert kept_m, "the corner cell itself must survive"

    cond = F.col("l_partkey").between(lo_pk, pk_hi) & F.col(
        "l_suppkey"
    ).between(lo_sk, sk_hi)
    full_n = li.filter(cond).count()
    got_n = read_pruned_multi(spark, td, preds).filter(cond).count()
    assert got_n == full_n > 0


def test_vacuum_reclaims_superseded_files_inside_shared_dirs(spark, sf_dir):
    """The leak s34/s30 create and dir-granular gc cannot fix: a merge
    rewrites SOME of gen-1's files, so gen-1's dir holds carried
    (referenced) files next to superseded ones — gc must keep the whole
    dir, vacuum(0.0) deletes exactly the superseded files, the committed
    read is untouched, and retention: with a large older_than_s nothing
    is deleted (young manifests retain their generations' files, so
    time travel inside the window keeps working)."""
    import os
    import shutil

    import pyspark.sql.functions as F  # noqa: N812

    from ez_cdc_spark.queries.sources_sinks import _scratch
    from ez_cdc_spark.sources.manifest import (
        gc,
        merge_cow,
        publish,
        read_committed,
        read_manifest,
        vacuum,
    )

    td = _scratch(sf_dir, "s34vacuum")
    shutil.rmtree(td, ignore_errors=True)
    rows = [(k, f"n{k}") for k in range(1, 401)]
    df = spark.createDataFrame(rows, "k bigint, name string")
    publish(df.repartitionByRange(8, "k"), td, generation=1, stats_columns=["k"])
    man1 = read_manifest(td)

    changes = spark.createDataFrame(
        [(k, f"u{k}", "u", 1) for k in range(10, 30)],
        "k bigint, name string, op string, seq int",
    )
    merge_cow(spark, td, changes, key_col="k", generation=2)
    man2 = read_manifest(td)
    carried = [r for r in man2["files"] if r in set(man1["files"])]
    superseded = [r for r in man1["files"] if r not in set(man2["files"])]
    assert carried and superseded, (len(carried), len(superseded))

    # retention: a large window deletes nothing (gen-1's manifest is young)
    assert vacuum(td, older_than_s=3600.0) == []
    # dir-granular gc cannot reclaim the mixed gen-1 dir's superseded files
    gc(td, older_than_s=0.0)
    for rel in superseded:
        assert os.path.exists(os.path.join(td, rel)), rel

    before = {r["k"]: r["name"] for r in read_committed(spark, td).collect()}
    deleted = vacuum(td, older_than_s=0.0)
    assert sorted(os.path.relpath(p, td) for p in deleted) == sorted(superseded)
    for rel in carried:
        assert os.path.exists(os.path.join(td, rel)), rel
    after = {r["k"]: r["name"] for r in read_committed(spark, td).collect()}
    assert after == before and after[10] == "u10" and len(after) == 400


def test_encode_stat_timestamp_is_integer_exact(spark):
    """ADVICE r14: the old float path (int(v.timestamp() * 1e6)) can land
    1µs below the true microsecond count — a max recorded 1µs low lets
    _range_excludes wrongly skip a file whose boundary row equals the
    query's lo bound. The encoding must be integer-exact for EVERY
    microsecond value; the sweep also proves it is non-vacuous by finding
    at least one value where the float path actually differs."""
    import datetime as dt

    from ez_cdc_spark.sources.manifest import _encode_stat

    epoch = dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)
    float_path_diverged = 0
    # scan odd microsecond offsets across several decades (the float error
    # grows with magnitude; modern epochs expose the truncation)
    for base_s in (1_100_000_000, 1_400_000_000, 1_700_000_000, 2_000_000_000):
        for us in range(1, 2_000, 7):
            total_us = base_s * 1_000_000 + us
            v = epoch + dt.timedelta(microseconds=total_us)
            assert _encode_stat(v) == {"us": total_us}, v
            if int(v.timestamp() * 1_000_000) != total_us:
                float_path_diverged += 1
    assert float_path_diverged > 0  # the sweep covers the failure class

    # naive timestamps are UTC by the session contract — same exactness
    naive = dt.datetime(2024, 3, 1, 12, 0, 0, 1)
    aware = naive.replace(tzinfo=dt.timezone.utc)
    assert _encode_stat(naive) == _encode_stat(aware)
    assert _encode_stat(naive)["us"] % 1_000_000 == 1


def test_pointer_lock_release_checks_ownership(spark, sf_dir):
    """ADVICE r14: a holder that stalled past the stale threshold and was
    broken by a waiter must NOT unlink the waiter's fresh lock on its own
    release — that would admit a third writer into the CAS section. The
    release verifies inode ownership before unlinking."""
    import os
    import shutil
    import time

    from ez_cdc_spark.queries.sources_sinks import _scratch
    from ez_cdc_spark.sources.manifest import (
        _COMMIT_LOCK,
        _acquire_pointer_lock,
        _release_pointer_lock,
    )

    td = _scratch(sf_dir, "s33lockown")
    shutil.rmtree(td, ignore_errors=True)
    os.makedirs(td)
    lock = os.path.join(td, _COMMIT_LOCK)

    # holder A acquires, then stalls past the stale threshold
    fd_a = _acquire_pointer_lock(td)
    old = time.time() - 3600
    os.utime(lock, (old, old))

    # waiter B breaks the stale lock and acquires its own
    fd_b = _acquire_pointer_lock(td)
    ino_b = os.stat(lock).st_ino

    # A's late release must leave B's lock untouched
    _release_pointer_lock(td, fd_a)
    assert os.path.exists(lock) and os.stat(lock).st_ino == ino_b

    # B's own release removes it
    _release_pointer_lock(td, fd_b)
    assert not os.path.exists(lock)


def test_gc_keeps_reservation_of_actively_staging_writer(spark, sf_dir):
    """ADVICE r14: a live writer's staging can outlast a small
    older_than_s — gc must treat a reservation as live while anything
    under its data/gen-N is still fresh (recursive mtime: partitioned
    staging writes land in pcol=value SUBDIRS, so the top dir's own mtime
    goes stale), and must not rmtree the in-flight staging dir either.
    Once everything is genuinely old, both are reclaimed."""
    import os
    import shutil
    import time

    from ez_cdc_spark.queries.sources_sinks import _scratch
    from ez_cdc_spark.sources.manifest import (
        _reserve_path,
        _stage_dir,
        gc,
        publish,
    )

    td = _scratch(sf_dir, "s33gclive")
    shutil.rmtree(td, ignore_errors=True)
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select("o_orderkey")
    publish(o.limit(10), td, generation=1)

    # a writer reserved gen-5 a while ago and is STILL staging: the
    # reservation file and the staging dirs are old, but a leaf file
    # inside a partition subdir is fresh (the write that just landed)
    res = _reserve_path(td, 5)
    os.close(os.open(res, os.O_CREAT | os.O_EXCL | os.O_WRONLY))
    stage = _stage_dir(td, 5)
    sub = os.path.join(stage, "p=a")
    os.makedirs(sub)
    fresh = os.path.join(sub, "part-0.parquet")
    with open(fresh, "wb") as fh:
        fh.write(b"x")
    old = time.time() - 3600
    for p in (res, stage, sub):
        os.utime(p, (old, old))

    deleted = gc(td, older_than_s=60.0)
    assert os.path.exists(res), deleted  # reservation stays: staging is live
    assert os.path.exists(fresh), deleted  # staging dir not rmtree'd

    # writer truly gone: everything old -> reclaim is TWO-PHASE (r15: a
    # held reservation protects its data dir unconditionally, so one pass
    # removes the stale reservation and the next reclaims the
    # now-unreserved dir — gc stays idempotent and the protection has no
    # ordering hole)
    os.utime(fresh, (old, old))
    deleted = gc(td, older_than_s=60.0)
    assert not os.path.exists(res), deleted
    deleted = gc(td, older_than_s=60.0)
    assert not os.path.exists(stage), deleted


def test_evolve_after_compact_drops_parent_lineage(spark, sf_dir):
    """ADVICE r14: evolve_schema right after a compaction must not carry
    the parent's "compact" lineage block — the evolution commit would
    misdescribe itself as a compaction (merge/append/evolve were already
    stripped; "compact" was the omission)."""
    import shutil

    from pyspark.sql.types import StringType, StructField

    from ez_cdc_spark.queries.sources_sinks import _scratch
    from ez_cdc_spark.sources.manifest import (
        compact_partial,
        evolve_schema,
        publish,
        read_manifest,
    )

    td = _scratch(sf_dir, "s32lineage")
    shutil.rmtree(td, ignore_errors=True)
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_orderstatus"
    )
    publish(o.limit(100).repartition(4), td, generation=1)
    compact_partial(
        spark, td, generation=2, max_file_bytes=1 << 30, target_files=1
    )
    assert "compact" in read_manifest(td)

    evolve_schema(td, 3, [StructField("tag", StringType(), True)])
    man = read_manifest(td)
    assert man["evolve"]["parent"] == 2
    for stale_lineage in ("compact", "merge", "append"):
        assert stale_lineage not in man, stale_lineage


def test_publish_stats_collected_without_driver_footer_reads(
    spark, sf_dir, monkeypatch
):
    """r14 verdict #4: publish-time footer stats must be produced WITHOUT
    a driver-side O(files) footer loop — the last driver-side O(table)
    pass in the lakehouse layer. Replace the module's ``_file_stats`` with
    a tripwire that raises IN THE DRIVER PROCESS: every stats-recording
    write path (publish, partitioned publish, append, merge, partial
    compaction) must still produce correct, pruning-usable stats, proving
    the footer reads ran on executor workers (the kernel is bound into
    ``_collect_stats`` at module load and ships by value).

    Optimization r19 refinement: commits staging at most
    ``_STATS_DRIVER_MAX`` files read their footers in a BOUNDED in-process
    loop (the job's fixed cost dwarfs a handful of footer reads); the
    scale property this test pins is therefore about writes ABOVE the
    threshold — driver work stays O(1) however many files a publish
    stages — so the publishes here stage more than the threshold. The
    fast path's equivalence is pinned separately in
    test_collect_stats_driver_fast_path_matches_executor_path."""
    import os
    import shutil

    from ez_cdc_spark.queries.sources_sinks import _scratch
    from ez_cdc_spark.sources import manifest as m

    driver_pid = os.getpid()

    def tripwire(path, columns):
        raise AssertionError(
            f"driver-side footer read of {path} (pid {driver_pid})"
        )

    monkeypatch.setattr(m, "_file_stats", tripwire)

    td = _scratch(sf_dir, "s25execstats")
    shutil.rmtree(td, ignore_errors=True)
    rows = [(k, k % 3, f"n{k}") for k in range(1, 201)]
    df = spark.createDataFrame(rows, "k bigint, p int, name string")

    # plain publish — above _STATS_DRIVER_MAX files so the executor
    # path (the property under test) is what runs
    assert m._STATS_DRIVER_MAX < 20
    m.publish(
        df.filter("p = 0").repartitionByRange(20, "k"),
        td,
        generation=1,
        stats_columns=["k"],
    )
    man = m.read_manifest(td)
    assert man["stats"] and all(
        "k" in s for s in man["stats"].values()
    ), man["stats"]
    kept, skipped = m.pruned_files(td, "k", 1, 10)
    assert skipped, "stats must actually prune"

    # append: fresh stats for the new files, carried entries kept
    # (again staged wider than the driver fast-path threshold)
    m.publish_append(
        df.filter("p = 1").repartitionByRange(20, "k"), td, generation=2
    )
    man = m.read_manifest(td)
    assert all("k" in s for s in man["stats"].values())

    # merge: rewritten files get fresh executor-side stats
    changes = spark.createDataFrame(
        [(k, 9, f"u{k}", "u", 1) for k in (5, 6)],
        "k bigint, p int, name string, op string, seq int",
    )
    m.merge_cow(spark, td, changes, key_col="k", generation=3)
    assert m.read_manifest(td)["merge"]["changed_keys"] == 2

    # partial compaction: rewritten tail gets fresh stats
    m.compact_partial(spark, td, generation=4, max_file_bytes=1 << 30)
    man = m.read_manifest(td)
    assert all("k" in s for s in man["stats"].values())

    # partitioned publish records stats too
    td2 = _scratch(sf_dir, "s29execstats")
    shutil.rmtree(td2, ignore_errors=True)
    m.publish_partitioned(
        df, td2, generation=1, partition_col="p", stats_columns=["k"]
    )
    man2 = m.read_manifest(td2)
    assert man2["stats"] and all("k" in s for s in man2["stats"].values())


def test_collect_stats_driver_fast_path_matches_executor_path(spark, sf_dir):
    """Optimization r19: ``_collect_stats`` reads footers in-process for
    commits staging at most ``_STATS_DRIVER_MAX`` files (the parallelize
    job's fixed cost dwarfs a handful of footer reads) and on executors
    above it. Both paths run the SAME bound kernel, so the stats map must
    be byte-identical — pin it by forcing each path over the same files."""
    import shutil

    from ez_cdc_spark.queries.sources_sinks import _scratch
    from ez_cdc_spark.sources import manifest as m

    td = _scratch(sf_dir, "statsfastpath")
    shutil.rmtree(td, ignore_errors=True)
    df = spark.createDataFrame(
        [(k, f"n{k}") for k in range(1, 101)], "k bigint, name string"
    )
    files = m.stage_only(df.repartitionByRange(4, "k"), td, 1)
    assert len(files) <= m._STATS_DRIVER_MAX  # fast path applies
    fast = m._collect_stats(spark, td, files, ["k"])
    # force the executor path over the identical files
    prev = m._STATS_DRIVER_MAX
    m._STATS_DRIVER_MAX = 0
    try:
        slow = m._collect_stats(spark, td, files, ["k"])
    finally:
        m._STATS_DRIVER_MAX = prev
    assert fast == slow and fast, (fast, slow)


def test_collect_blooms_driver_fast_path_matches_executor_path(spark, sf_dir):
    """Optimization r20 (VERDICT r19 #5): ``_collect_blooms`` builds
    bitsets in-process for commits staging few, SMALL files — bounded by
    bytes as well as file count, because the bloom kernel reads the key
    column's data pages, not just footers — and on executors above either
    bound. Both paths run the same bound kernel, so the bloom map must be
    byte-identical."""
    import shutil

    from ez_cdc_spark.queries.sources_sinks import _scratch
    from ez_cdc_spark.sources import manifest as m

    td = _scratch(sf_dir, "bloomfastpath")
    shutil.rmtree(td, ignore_errors=True)
    df = spark.createDataFrame(
        [(k, f"n{k}") for k in range(1, 101)], "k bigint, name string"
    )
    files = m.stage_only(df.repartitionByRange(4, "k"), td, 1)
    assert len(files) <= m._BLOOMS_DRIVER_MAX_FILES  # fast path applies
    fast = m._collect_blooms(spark, td, files, ["k", "name"], 1024)
    prev = m._BLOOMS_DRIVER_MAX_FILES
    m._BLOOMS_DRIVER_MAX_FILES = 0  # force the executor path
    try:
        slow = m._collect_blooms(spark, td, files, ["k", "name"], 1024)
    finally:
        m._BLOOMS_DRIVER_MAX_FILES = prev
    assert fast == slow and fast, (fast, slow)


def test_feed_flags_tolerate_colliding_table_columns(spark, sf_dir):
    """ADVICE r19: the r19 left-join classification adds flag columns
    (``__del``/``__match`` in merge_cow's feed recording, ``__upd`` in
    _classify_feed). A table that legitimately declares a column with one
    of those names must still merge and serve its change feed — the flag
    names derive through _flag_col, guaranteed absent from the schema."""
    import shutil

    from ez_cdc_spark.queries.sources_sinks import _scratch
    from ez_cdc_spark.sources import manifest as m

    td = _scratch(sf_dir, "flagcollide")
    shutil.rmtree(td, ignore_errors=True)
    base = spark.createDataFrame(
        [(k, f"d{k}", f"m{k}", f"u{k}") for k in range(1, 21)],
        "k bigint, __del string, __match string, __upd string",
    )
    m.publish(base, td, generation=1, stats_columns=["k"])
    changes = spark.createDataFrame(
        [(5, "D", "M", "U", "u", 1), (6, None, None, None, "d", 2),
         (99, "D9", "M9", "U9", "u", 3)],
        "k bigint, __del string, __match string, __upd string, "
        "op string, seq int",
    )
    m.merge_cow(
        spark, td, changes, key_col="k", generation=2, record_change_feed=True
    )
    feed = m.change_feed(spark, td, 1, 2, key_col="k")
    got = {
        (r["k"], r["_change_type"]) for r in feed.collect()
    }
    assert (5, "update_preimage") in got and (5, "update_postimage") in got
    assert (6, "delete") in got
    assert (99, "insert") in got
    # the recorded merge-time feed must classify identically
    import os as _os

    man2 = m.read_manifest(td, 2)
    rec = spark.read.parquet(
        *[_os.path.join(td, rel) for rel in man2["change_files"]]
    )
    got_rec = {(r["k"], r["_change_type"]) for r in rec.collect()}
    assert got_rec == got, (got_rec, got)


def test_x2eb_pins_leave_no_cached_plans(spark, sf_dir):
    """ADVICE r19 (medium): x2eb's pair-set pins must not register
    CacheManager entries — a plan-keyed cache with no release path would
    hand every later invocation the previous run's results (bench
    min-of-N would then measure the cache, not the pipelines) and pin
    executor memory for the session. The pins are per-invocation local
    checkpoints; the cached-DataFrame registry must stay empty."""
    from ez_cdc_spark.queries import load_all

    spark.catalog.clearCache()  # clean slate whatever ran before
    cm = spark._jsparkSession.sharedState().cacheManager()
    df = load_all()["x2eb_lsh_recall_anchor"].fn(spark, sf_dir)
    row = df.collect()[0]
    assert row["false_positives"] == 0 and row["recall_ge_090"]
    assert cm.isEmpty(), "x2eb left a cached plan behind"


def test_merge_persist_is_scoped_to_the_commit(spark, sf_dir):
    """Optimization r19: merge_cow/merge_mor persist the resolved batch so
    the constraint gate, keys collect, staging write and feed recording
    read a cache instead of re-executing the caller's change pipeline
    per action (guide §5). The cache must be COMMIT-SCOPED: nothing may
    stay pinned in executor storage after the call returns (a leak here
    would accumulate one block per micro-batch for the life of a
    streaming sink), including on the refusal paths."""
    import shutil

    import pytest as _pytest

    from ez_cdc_spark.queries.sources_sinks import _scratch
    from ez_cdc_spark.sources import manifest as m

    def cached_rdd_count() -> int:
        return spark.sparkContext._jsc.sc().getPersistentRDDs().size()

    td = _scratch(sf_dir, "mergepersistscope")
    shutil.rmtree(td, ignore_errors=True)
    base = spark.createDataFrame(
        [(k, f"n{k}") for k in range(1, 51)], "k bigint, name string"
    )
    m.publish(base, td, generation=1, stats_columns=["k"])
    changes = spark.createDataFrame(
        [(5, "u5", "u", 1), (6, None, "d", 2)],
        "k bigint, name string, op string, seq int",
    )
    before = cached_rdd_count()
    m.merge_cow(spark, td, changes, key_col="k", generation=2)
    assert cached_rdd_count() == before, "merge_cow leaked a cached batch"
    m.merge_mor(spark, td, changes, key_col="k", generation=3)
    assert cached_rdd_count() == before, "merge_mor leaked a cached batch"
    # refusal path: the generation is already committed -> the validation
    # refuses AFTER the batch was persisted; the finally must still
    # unpersist
    with _pytest.raises(ValueError):
        m.merge_mor(spark, td, changes, key_col="k", generation=3)
    assert cached_rdd_count() == before, "refused merge leaked a cached batch"


def test_vacuum_never_reclaims_a_racing_writers_staging(spark, sf_dir):
    """r14 verdict #8, witness 1: vacuum runs CONCURRENTLY with a writer
    whose staging deliberately outlasts older_than_s (files written one
    by one, each older than the threshold by the time the last lands).
    The S33 reservation must protect every staged file structurally —
    age alone would lose the early ones — and after the writer commits,
    the table must read back complete."""
    import os
    import shutil
    import threading
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from ez_cdc_spark.queries.sources_sinks import _scratch
    from ez_cdc_spark.sources import manifest as m

    td = _scratch(sf_dir, "vacrace1")
    shutil.rmtree(td, ignore_errors=True)
    base = spark.createDataFrame([(1, "a")], "k bigint, v string")
    m.publish(base, td, generation=1)

    stage = m._stage_dir(td, 2)
    staged: list[str] = []
    writer_err: list[Exception] = []

    def writer():
        try:
            # reservation FIRST (what _validate_generation does), then a
            # slow staging: 6 files, 0.15 s apart, against a 0.2 s vacuum
            # threshold — files 1..4 are provably past the age floor while
            # staging is still in flight
            m._validate_generation(td, 2)
            os.makedirs(stage, exist_ok=True)
            for i in range(6):
                p = os.path.join(stage, f"part-{i:03d}.parquet")
                pq.write_table(
                    pa.table({"k": [100 + i], "v": [f"s{i}"]}), p
                )
                staged.append(p)
                time.sleep(0.15)
            manifest = {
                "generation": 2,
                "files": [os.path.relpath(f, td) for f in m.committed_files(td)]
                + [os.path.relpath(f, td) for f in staged],
                "n_files": 1 + len(staged),
                "schema": {
                    "type": "struct",
                    "fields": [
                        {"name": "k", "type": "long", "nullable": True, "metadata": {}},
                        {"name": "v", "type": "string", "nullable": True, "metadata": {}},
                    ],
                },
            }
            m._commit_manifest(td, 2, manifest, expected_parent=1)
        except Exception as ex:  # surface in the main thread
            writer_err.append(ex)

    t = threading.Thread(target=writer)
    t.start()
    # hammer vacuum the whole time the writer is staging + committing
    reclaimed: list[str] = []
    while t.is_alive():
        reclaimed += m.vacuum(td, older_than_s=0.2)
        time.sleep(0.05)
    t.join()
    assert not writer_err, writer_err
    assert reclaimed == [], f"vacuum stole a racing writer's files: {reclaimed}"
    for p in staged:
        assert os.path.exists(p), p
    got = sorted(
        (r["k"], r["v"]) for r in m.read_committed(spark, td).collect()
    )
    assert got == [(1, "a")] + [(100 + i, f"s{i}") for i in range(6)]


def test_vacuum_protects_a_commit_landing_mid_walk(spark, sf_dir):
    """r14 verdict #8, witness 2: a writer commits WHILE vacuum walks —
    stressed in a loop (the s33 CAS-stress style): one thread performs
    back-to-back merge commits, the main thread runs vacuum continuously
    with a small threshold. No committed generation may ever lose a file:
    after every round the final committed read must equal the Python
    model, and every file named by the final manifest must exist."""
    import os
    import shutil
    import threading

    from ez_cdc_spark.queries.sources_sinks import _scratch
    from ez_cdc_spark.sources import manifest as m

    td = _scratch(sf_dir, "vacrace2")
    shutil.rmtree(td, ignore_errors=True)
    rows = [(k, f"n{k}") for k in range(1, 101)]
    df = spark.createDataFrame(rows, "k bigint, name string")
    m.publish(df.repartitionByRange(4, "k"), td, generation=1, stats_columns=["k"])

    model = {k: f"n{k}" for k in range(1, 101)}
    writer_err: list[Exception] = []
    done = threading.Event()

    def writer():
        try:
            for round_no in range(6):
                lo = 10 * round_no + 1
                batch = [
                    (k, f"u{round_no}-{k}", "u", round_no + 1)
                    for k in range(lo, lo + 10)
                ]
                for k, v, _op, _seq in batch:
                    model[k] = v
                changes = spark.createDataFrame(
                    batch, "k bigint, name string, op string, seq int"
                )
                m.retry_commit(
                    lambda g, c=changes: m.merge_cow(
                        spark, td, c, key_col="k", generation=g
                    ),
                    td,
                )
        except Exception as ex:
            writer_err.append(ex)
        finally:
            done.set()

    t = threading.Thread(target=writer)
    t.start()
    while not done.is_set():
        m.vacuum(td, older_than_s=30.0)  # commits are far younger than this
        m.vacuum(td, older_than_s=0.0)  # and the manifest set protects even at 0
    t.join()
    assert not writer_err, writer_err

    final = m.read_manifest(td)
    for rel in final["files"]:
        assert os.path.exists(os.path.join(td, rel)), rel
    got = {r["k"]: r["name"] for r in m.read_committed(spark, td).collect()}
    assert got == model


def test_s35_change_feed_reads_only_touched_files_and_skips_maintenance(
    spark, sf_dir
):
    """s35 structural pins: (1) the feed's plan reads ONLY the symmetric
    difference of the two manifests' file lists — carried-by-reference
    files are never opened, so feed I/O tracks the churn; (2) a pure
    compaction's feed is EMPTY (layout maintenance is invisible to
    consumers); (3) across an additive schema evolution the FROM side
    NULL-fills the new column, so pre/post images stay comparable."""
    import os
    import shutil

    from pyspark.sql.types import StringType, StructField

    from ez_cdc_spark.queries.sources_sinks import _scratch
    from ez_cdc_spark.sources.manifest import (
        change_feed,
        compact,
        evolve_schema,
        merge_cow,
        publish,
        publish_append,
        read_manifest,
    )

    td = _scratch(sf_dir, "s35pins")
    shutil.rmtree(td, ignore_errors=True)
    rows = [(k, f"n{k}") for k in range(1, 401)]
    df = spark.createDataFrame(rows, "k bigint, name string")
    publish(df.repartitionByRange(8, "k"), td, generation=1, stats_columns=["k"])
    man1 = read_manifest(td)

    changes = spark.createDataFrame(
        [(k, f"u{k}", "u", 1) for k in range(10, 20)]
        + [(k, None, "d", 1) for k in range(390, 395)]
        + [(k, f"i{k}", "c", 1) for k in (9001, 9002)],
        "k bigint, name string, op string, seq int",
    )
    merge_cow(spark, td, changes, key_col="k", generation=2)
    man2 = read_manifest(td)

    feed = change_feed(spark, td, 1, 2, key_col="k")
    # (1) the feed's I/O touches only the symmetric difference. r20: the
    # delta pins per invocation (its own plan is a checkpoint scan), so
    # the churn-proportional-read contract is attested through the
    # _ez_feed_scans hook — the pre-pin plan that performed the reads.
    sym = {
        os.path.join(td, r)
        for r in set(man1["files"]).symmetric_difference(man2["files"])
    }
    opened = {
        f.replace("file://", "")
        for scan in feed._ez_feed_scans
        for f in scan.inputFiles()
    }
    assert opened and opened <= sym, (opened - sym, sym)
    carried = {
        os.path.join(td, r) for r in set(man1["files"]) & set(man2["files"])
    }
    assert carried and not (opened & carried)

    got = {(r["_change_type"], r["k"]) for r in feed.collect()}
    want = (
        {("update_preimage", k) for k in range(10, 20)}
        | {("update_postimage", k) for k in range(10, 20)}
        | {("delete", k) for k in range(390, 395)}
        | {("insert", k) for k in (9001, 9002)}
    )
    assert got == want

    # (2) compaction is invisible to the feed
    compact(spark, td, generation=3, target_files=2)
    assert change_feed(spark, td, 2, 3, key_col="k").count() == 0

    # (3) additive evolution: FROM side NULL-fills the new column
    evolve_schema(td, 4, [StructField("tag", StringType(), True)])
    tagged = spark.createDataFrame([(7777, "new", "T")], "k bigint, name string, tag string")
    publish_append(tagged, td, generation=5)
    feed2 = change_feed(spark, td, 3, 5, key_col="k")
    rows2 = {(r["_change_type"], r["k"], r["tag"]) for r in feed2.collect()}
    assert rows2 == {("insert", 7777, "T")}
    # and an evolution alone changes no rows
    assert change_feed(spark, td, 3, 4, key_col="k").count() == 0


def _vacrace_proc_writer(args):
    """Spawn-target: commit n generations against one table, each staging a
    real parquet file (pyarrow, no Spark in children) under a held S33
    reservation, exactly the library's own write discipline. Returns the
    committed (generation, value) pairs."""
    table_dir, n_commits = args
    import os
    import sys
    import time

    sys.path.insert(0, "/root/repo")
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ez_cdc_spark.sources.manifest import (
        CommitConflictError,
        _commit_manifest,
        _stage_dir,
        _validate_generation,
        current_generation,
        read_manifest,
    )

    committed = []
    gen = 1
    while len(committed) < n_commits:
        cur = current_generation(table_dir)
        gen = max((cur or 0) + 1, gen + 1)
        try:
            _validate_generation(table_dir, gen)  # takes the reservation
        except FileExistsError:
            continue
        stage = _stage_dir(table_dir, gen)
        os.makedirs(stage, exist_ok=True)
        f = os.path.join(stage, "part-000.parquet")
        pq.write_table(pa.table({"gen": [gen], "v": [gen * 7]}), f)
        time.sleep(0.01)  # widen the staging window the maintainers race
        man = {
            "generation": gen,
            "files": [os.path.relpath(f, table_dir)],
            "n_files": 1,
            "schema": read_manifest(table_dir)["schema"],
        }
        try:
            _commit_manifest(table_dir, gen, man, expected_parent=cur)
            committed.append((gen, gen * 7))
        except (CommitConflictError, FileExistsError):
            pass  # single writer here, but stay conflict-safe
    open(os.path.join(table_dir, "_WRITER_DONE"), "w").close()
    return committed


def _vacrace_proc_maintainer(args):
    """Spawn-target: hammer gc(0) + vacuum(0) until the writer finishes."""
    table_dir, = args
    import os
    import sys

    sys.path.insert(0, "/root/repo")
    from ez_cdc_spark.sources.manifest import gc, vacuum

    rounds = 0
    while not os.path.exists(os.path.join(table_dir, "_WRITER_DONE")):
        # vacuum at 0.0 is structurally writer-safe (reservation +
        # manifest-reference protection); gc's threshold must exceed the
        # link->pointer-swap commit window when writers are concurrent
        # (manifest.py docstring) — 2 s dwarfs it while still far below
        # the test's runtime, so gc races every staging and every commit
        gc(table_dir, older_than_s=2.0)
        vacuum(table_dir, older_than_s=0.0)
        rounds += 1
    return rounds


def _vacrace_proc_reader(args):
    """Spawn-target: repeatedly resolve the pointer and check every file
    the CURRENT manifest names exists; a missing file is a violation
    UNLESS the pointer moved in between (a superseded snapshot may be
    reclaimed at older_than_s=0 by documented contract)."""
    table_dir, = args
    import os
    import sys

    sys.path.insert(0, "/root/repo")
    from ez_cdc_spark.sources.manifest import read_manifest

    violations = []
    checks = 0
    while not os.path.exists(os.path.join(table_dir, "_WRITER_DONE")):
        try:
            man = read_manifest(table_dir)
        except (FileNotFoundError, ValueError):
            continue  # pointer swap / gc mid-resolve: re-resolve
        for rel in man["files"]:
            if not os.path.exists(os.path.join(table_dir, rel)):
                try:
                    now = read_manifest(table_dir)["generation"]
                except (FileNotFoundError, ValueError):
                    continue
                if now == man["generation"]:
                    violations.append((man["generation"], rel))
        checks += 1
    return checks, violations


def test_vacuum_gc_never_touch_the_committed_generation_cross_process(
    spark, sf_dir
):
    """r14 verdict #8 taken cross-PROCESS (the s33 stress style): one OS
    process commits 25 real-file generations while two maintainer
    processes hammer gc(0)+vacuum(0) and a reader process continuously
    audits that the CURRENT pointer's files exist. Zero reader violations,
    and the final committed file reads back with the last commit's
    content — the aggressive-reclaim setting can never eat the live
    generation or an in-flight commit."""
    import multiprocessing as mp
    import os
    import shutil

    import pyarrow.parquet as pq

    from ez_cdc_spark.queries.sources_sinks import _scratch
    from ez_cdc_spark.sources.manifest import committed_files, publish, read_manifest

    td = _scratch(sf_dir, "vacrace3")
    shutil.rmtree(td, ignore_errors=True)
    publish(
        spark.createDataFrame([(0, 0)], "gen bigint, v bigint"), td, generation=1
    )

    ctx = mp.get_context("spawn")
    with ctx.Pool(4) as pool:
        writer = pool.apply_async(_vacrace_proc_writer, [(td, 25)])
        maint1 = pool.apply_async(_vacrace_proc_maintainer, [(td,)])
        maint2 = pool.apply_async(_vacrace_proc_maintainer, [(td,)])
        reader = pool.apply_async(_vacrace_proc_reader, [(td,)])
        committed = writer.get(timeout=300)
        m1, m2 = maint1.get(timeout=60), maint2.get(timeout=60)
        checks, violations = reader.get(timeout=60)

    assert len(committed) == 25
    assert m1 + m2 > 10, "maintainers must actually have raced"
    assert checks > 10, "reader must actually have audited"
    assert violations == [], violations

    final_gen, final_val = committed[-1]
    assert read_manifest(td)["generation"] == final_gen
    files = committed_files(td)
    assert len(files) == 1 and os.path.exists(files[0])
    tbl = pq.read_table(files[0])
    assert tbl.column("gen").to_pylist() == [final_gen]
    assert tbl.column("v").to_pylist() == [final_val]


def test_change_feed_partition_pruning(spark):
    """r15 verdict #3: the change feed composes with partitioned
    generations AND can prune to requested partitions from the manifest
    map alone — (a) rewrites confined to partition P imply the full
    feed's inputFiles are a subset of P's churn files, (b) the
    ``partitions=[...]`` arg returns exactly the full feed filtered to
    those partitions on a stable-partition-key table, with inputFiles
    drawn only from them, (c) unrequested partitions yield an empty
    feed that opens zero files, (d) a moved key's update pair degrades
    to delete+insert across the two scoped feeds (same rows), and
    (e) the filter raises on non-partitioned generations."""
    import os
    import tempfile

    import pyspark.sql.functions as F  # noqa: N812

    from ez_cdc_spark.sources.manifest import (
        change_feed,
        merge_cow,
        publish,
        publish_partitioned,
        read_manifest,
    )

    td = tempfile.mkdtemp(prefix="feedprune_")
    base = spark.range(100).select(
        "id",
        (F.col("id") % 4).cast("string").alias("p"),
        F.concat(F.lit("v"), F.col("id")).alias("val"),
    )
    publish_partitioned(base, td, 1, "p", stats_columns=["id"])

    # gen 2: churn confined to partition "1" (stable partition keys)
    ch1 = spark.createDataFrame(
        [(1, "1", "new1", "u", 1), (5, "1", "new5", "u", 2), (9, "1", None, "d", 3)],
        "id bigint, p string, val string, op string, seq bigint",
    )
    merge_cow(spark, td, ch1, "id", 2, stable_partition_keys=True)

    m1, m2 = read_manifest(td, 1), read_manifest(td, 2)
    churn_rel = (set(m1["files"]) - set(m2["files"])) | (
        set(m2["files"]) - set(m1["files"])
    )
    p1_churn_abs = {
        os.path.join(td, r)
        for r in churn_rel
        if (m1.get("partitions", {}).get(r) or m2.get("partitions", {}).get(r)) == "1"
    }
    def _paths(df):  # inputFiles returns file:// URIs
        return {f.removeprefix("file://") for f in df.inputFiles()}

    # (a) every churned file IS partition 1's churn — and the feed opened
    # only those files
    full = change_feed(spark, td, 1, 2, key_col="id")
    full_rows = sorted(map(tuple, full.collect()))
    assert _paths(full) <= p1_churn_abs
    assert {r[2] for r in full_rows} == {"1"}  # p column: only partition 1

    # (b) the scoped feed equals the full feed (stable keys, churn in P)
    scoped = change_feed(spark, td, 1, 2, key_col="id", partitions=["1"])
    assert sorted(map(tuple, scoped.collect())) == full_rows
    assert _paths(scoped) <= p1_churn_abs

    # (c) an unrequested partition's feed is empty and opens nothing
    other = change_feed(spark, td, 1, 2, key_col="id", partitions=["2"])
    assert other.inputFiles() == [] and other.count() == 0

    # multi-partition churn: scoped feeds partition the full feed
    ch2 = spark.createDataFrame(
        [(0, "0", "new0", "u", 10), (2, "2", "new2", "u", 11)],
        "id bigint, p string, val string, op string, seq bigint",
    )
    merge_cow(spark, td, ch2, "id", 3, stable_partition_keys=True)
    full23 = sorted(map(tuple, change_feed(spark, td, 2, 3, key_col="id").collect()))
    f0 = sorted(
        map(tuple, change_feed(spark, td, 2, 3, key_col="id", partitions=["0"]).collect())
    )
    f2 = sorted(
        map(tuple, change_feed(spark, td, 2, 3, key_col="id", partitions=["2"]).collect())
    )
    assert sorted(f0 + f2) == full23
    assert all(r[2] == "0" for r in f0) and all(r[2] == "2" for r in f2)
    both = sorted(
        map(
            tuple,
            change_feed(
                spark, td, 2, 3, key_col="id", partitions=["0", "2"]
            ).collect(),
        )
    )
    assert both == full23

    # (d) a key MOVING partitions (default regime): full feed emits the
    # update pair; the two scoped feeds see delete / insert with the
    # same row payloads
    mv = spark.createDataFrame(
        [(3, "0", "moved3", "u", 20)],  # id 3 lived in partition "3"
        "id bigint, p string, val string, op string, seq bigint",
    )
    merge_cow(spark, td, mv, "id", 4)  # stable_partition_keys=False
    full34 = change_feed(spark, td, 3, 4, key_col="id")
    pair = {
        r["_change_type"] for r in full34.where(F.col("id") == 3).collect()
    }
    assert pair == {"update_preimage", "update_postimage"}
    old_side = change_feed(spark, td, 3, 4, key_col="id", partitions=["3"])
    new_side = change_feed(spark, td, 3, 4, key_col="id", partitions=["0"])
    assert {r["_change_type"] for r in old_side.where(F.col("id") == 3).collect()} == {
        "delete"
    }
    assert {r["_change_type"] for r in new_side.where(F.col("id") == 3).collect()} == {
        "insert"
    }
    # same rows modulo label: drop _change_type and the union matches
    drop = lambda rows: sorted(tuple(r)[1:] for r in rows)  # noqa: E731
    assert drop(
        old_side.where(F.col("id") == 3).collect()
        + new_side.where(F.col("id") == 3).collect()
    ) == drop(full34.where(F.col("id") == 3).collect())

    # (e) the filter is an error on non-partitioned generations
    import pytest as _pytest

    td2 = tempfile.mkdtemp(prefix="feedprune_flat_")
    publish(spark.range(5).select("id"), td2, 1, stats_columns=["id"])
    publish(spark.range(6).select("id"), td2, 2)
    with _pytest.raises(ValueError, match="partitioned"):
        change_feed(spark, td2, 1, 2, partitions=["x"])


def _mor_changes(spark, rows):
    return spark.createDataFrame(
        rows, "id bigint, val string, op string, seq bigint"
    )


def test_s36_mor_commit_rewrites_nothing_and_resolves_exactly(spark):
    """The merge-on-read contract: a merge_mor commit leaves EVERY parent
    data file referenced byte-identical (zero rewrites — the property
    merge_cow measurably loses under uniform churn,
    bench_scaling.py:t30_churn_spread_probe), adds only batch-sized new
    files plus one equality-delete file, and read_mor resolves the
    sequence-numbered kill rule to the exact python replay — including a
    commit's own upserts surviving its own delete entries while every
    older version dies, across multiple commits."""
    import hashlib
    import os
    import tempfile

    from pyspark.sql import functions as F  # noqa: N812

    from ez_cdc_spark.sources.manifest import (
        merge_mor,
        publish,
        read_manifest,
        read_mor,
    )

    td = tempfile.mkdtemp(prefix="mor_rewrite_")
    base = spark.range(1000).select(
        "id", F.concat(F.lit("v"), F.col("id")).alias("val")
    )
    publish(
        base.repartitionByRange(8, "id"), td, 1, stats_columns=["id"]
    )
    m1 = read_manifest(td)
    hashes = {
        rel: hashlib.md5(open(os.path.join(td, rel), "rb").read()).hexdigest()
        for rel in m1["files"]
    }

    # uniform churn: keys spread across every file's range
    state = {i: f"v{i}" for i in range(1000)}
    for b, (upserts, deletes) in enumerate(
        [
            ([(i, f"a{i}") for i in range(0, 1000, 125)], [3, 503]),
            ([(i, f"b{i}") for i in range(0, 1000, 125)], [250]),  # re-update
        ],
        start=2,
    ):
        rows = [(k, v, "u", 100 * b + j) for j, (k, v) in enumerate(upserts)]
        rows += [(k, None, "d", 100 * b + 50 + j) for j, k in enumerate(deletes)]
        merge_mor(spark, td, _mor_changes(spark, rows), "id", b)
        for k, v in upserts:
            state[k] = v
        for k in deletes:
            state.pop(k, None)

    m3 = read_manifest(td)
    # every parent file still referenced, byte-identical (never rewritten)
    for rel, h in hashes.items():
        assert rel in set(m3["files"]), f"parent file {rel} dropped"
        assert (
            hashlib.md5(open(os.path.join(td, rel), "rb").read()).hexdigest() == h
        ), f"parent file {rel} was rewritten"
    assert len(m3["delete_files"]) == 2 and m3["mor_key"] == "id"
    # sequence numbers recorded for every file
    assert set(m3["file_seq"]) == set(m3["files"])
    got = {r["id"]: r["val"] for r in read_mor(spark, td).collect()}
    assert got == state


def test_s36_guards_compaction_and_interop(spark):
    """Raw-file consumers refuse a MOR generation loudly (silently
    resurrecting killed rows is the failure mode); compact_mor folds the
    log into a plain COW generation equal to the resolve; merge_cow /
    change_feed / read_committed compose again afterwards; txn
    watermarks thread through merge_mor and compact_mor; vacuum/gc
    never reclaim a referenced delete file."""
    import os
    import tempfile

    import pytest as _pytest
    from pyspark.sql import functions as F  # noqa: N812

    from ez_cdc_spark.sources.manifest import (
        change_feed,
        compact,
        compact_mor,
        gc,
        merge_cow,
        merge_mor,
        publish,
        publish_append,
        read_committed,
        read_manifest,
        read_mor,
        read_pruned,
        txn_watermark,
        vacuum,
    )

    td = tempfile.mkdtemp(prefix="mor_guard_")
    publish(
        spark.range(100).select("id", (F.col("id") % 5).cast("string").alias("val"))
        .repartitionByRange(4, "id"),
        td,
        1,
        stats_columns=["id"],
    )
    merge_mor(
        spark,
        td,
        _mor_changes(spark, [(1, "x", "u", 1), (99, None, "d", 2)]),
        "id",
        2,
        txn={"tag": "morsink", "batch_id": 7},
    )
    resolved = sorted(map(tuple, read_mor(spark, td).collect()))

    for fn, name in [
        (lambda: read_committed(spark, td), "read_committed"),
        (lambda: read_pruned(spark, td, "id", 0, 10), "read_pruned"),
        (
            lambda: merge_cow(
                spark, td, _mor_changes(spark, [(2, "y", "u", 3)]), "id", 3
            ),
            "merge_cow",
        ),
        (lambda: compact(spark, td, 3), "compact"),
        (
            lambda: publish_append(
                spark.createDataFrame([(5000, "z")], "id bigint, val string"),
                td,
                3,
            ),
            "publish_append",
        ),
        (lambda: change_feed(spark, td, 1, 2), "change_feed"),
    ]:
        with _pytest.raises(ValueError, match="merge-on-read"):
            fn()

    # key consistency is enforced across commits
    with _pytest.raises(ValueError, match="keyed by"):
        merge_mor(
            spark,
            td,
            spark.createDataFrame(
                [("a", 1, "u", 9)], "val string, id bigint, op string, seq bigint"
            ),
            "val",
            3,
        )

    # vacuum/gc keep every referenced file (delete file included)
    gc(td, older_than_s=0.0)
    vacuum(td, older_than_s=0.0)
    m = read_manifest(td)
    for rel in list(m["files"]) + list(m["delete_files"]):
        assert os.path.exists(os.path.join(td, rel)), rel
    assert txn_watermark(m, "morsink") == {"batch_id": 7}

    # fold: same rows, no delete log, watermark carried, interop restored
    compact_mor(spark, td, m["generation"] + 1, target_files=2)
    m2 = read_manifest(td)
    assert not m2.get("delete_files")
    assert sorted(map(tuple, read_committed(spark, td).collect())) == resolved
    assert txn_watermark(m2, "morsink") == {"batch_id": 7}
    merge_cow(
        spark, td, _mor_changes(spark, [(2, "y", "u", 3)]), "id", m2["generation"] + 1
    )
    feed = change_feed(spark, td, m2["generation"], m2["generation"] + 1, key_col="id")
    assert feed.count() == 2  # the update pair


def test_s36_mor_equals_cow_on_identical_batches(spark):
    """Differential: the same change batches through merge_mor+read_mor
    and through merge_cow+read_committed produce the identical final
    state — the two commit shapes are semantically interchangeable, only
    their cost profiles differ."""
    import tempfile

    from pyspark.sql import functions as F  # noqa: N812

    from ez_cdc_spark.sources.manifest import (
        merge_cow,
        merge_mor,
        publish,
        read_committed,
        read_mor,
    )

    base = spark.range(500).select(
        "id", (F.col("id") % 13).cast("string").alias("val")
    )
    batches = [
        [(i, f"a{i}", "u", 100 + i) for i in range(0, 500, 7)]
        + [(i, None, "d", 200 + i) for i in range(3, 500, 101)],
        [(i, f"b{i}", "u", 1000 + i) for i in range(0, 500, 11)]
        + [(i, None, "d", 2000 + i) for i in range(5, 500, 97)]
        + [(i + 10000, f"n{i}", "u", 3000 + i) for i in range(0, 50, 9)],
    ]
    tds = {}
    for mode in ("cow", "mor"):
        td = tempfile.mkdtemp(prefix=f"mor_diff_{mode}_")
        publish(base.repartitionByRange(6, "id"), td, 1, stats_columns=["id"])
        for g, rows in enumerate(batches, start=2):
            ch = _mor_changes(spark, rows)
            if mode == "cow":
                merge_cow(spark, td, ch, "id", g)
            else:
                merge_mor(spark, td, ch, "id", g)
        tds[mode] = td
    cow = sorted(map(tuple, read_committed(spark, tds["cow"]).collect()))
    mor = sorted(map(tuple, read_mor(spark, tds["mor"]).collect()))
    assert cow == mor and len(cow) > 400


def test_footer_stats_pass_is_metadata_only(spark):
    """r15 verdict #5, measured-won't-fix witness: the publish path's
    stats collection reads parquet FOOTERS, not data — its cost must be
    data-size-independent. A file ~100x bigger must stat in nowhere near
    100x the time (we allow 10x for noise); and the footer pass on the
    big file must be far cheaper than even the cheapest whole-file read
    (min/max agg). The real design alternatives are argued with numbers
    in README's r16 note; this pin keeps the claim honest."""
    import tempfile
    import time

    from pyspark.sql import functions as F  # noqa: N812

    from ez_cdc_spark.sources.manifest import _collect_stats, stage_only

    def staged(n_rows):
        td = tempfile.mkdtemp(prefix="statspin_")
        df = spark.range(n_rows).select(
            "id", F.sha2(F.col("id").cast("string"), 256).alias("pad")
        )
        return td, stage_only(df.coalesce(1), td, 1)

    td_small, small = staged(20_000)
    td_big, big = staged(2_000_000)  # ~100x the rows/bytes

    def best_of(fn, n=3):
        out = float("inf")
        for _ in range(n):
            t0 = time.perf_counter()
            fn()
            out = min(out, time.perf_counter() - t0)
        return out

    _collect_stats(spark, td_small, small, ["id"])  # warm the job path
    t_small = best_of(lambda: _collect_stats(spark, td_small, small, ["id"]))
    t_big = best_of(lambda: _collect_stats(spark, td_big, big, ["id"]))
    # floor the baseline at 50 ms: both sides are single-digit-ms footer
    # reads plus one Spark job's fixed overhead, and under heavy ambient
    # load the ratio of two near-zero samples is pure scheduler jitter
    # (flaked once in a full-suite run concurrent with the 301-query
    # oracle sweep; passes solo) — the data-size-independence claim is
    # "100x the bytes stays within 10x of a floored baseline", which a
    # real data read (seconds, see t_scan below) still fails by orders
    assert t_big < max(t_small, 0.05) * 10, (t_small, t_big)

    # the data-read comparator aggregates the WIDE column (64-char sha2
    # strings), so the scan side genuinely pays the file's bytes — the
    # r17 full-suite run caught the old min/max-of-id comparator racing
    # the footer pass within 4% (two ~150 ms walls, pure scheduler
    # jitter under load; passed solo). A footer read must beat a real
    # data read with margin, not by a coin flip.
    t_scan = best_of(
        lambda: spark.read.parquet(*big)
        .agg(F.min("pad"), F.max("pad"))
        .collect(),
        n=2,
    )
    assert t_big < t_scan, (t_big, t_scan)


def test_s37_restore_is_metadata_only_and_rewinds_watermarks(spark):
    """s37 contract: the restore generation references the target's files
    VERBATIM (zero new files staged, bytes untouched), carries the
    TARGET's txn watermarks (replay state rewinds with the data), keeps
    rolled-back history time-travelable, protects everything through gc,
    composes with MOR generations, refuses dangling references and
    restore-to-current, and is itself undoable by a further restore."""
    import os
    import tempfile

    import pytest as _pytest
    from pyspark.sql import functions as F  # noqa: N812

    from ez_cdc_spark.sources.manifest import (
        gc,
        merge_cow,
        merge_mor,
        publish,
        read_committed,
        read_manifest,
        read_mor,
        restore,
        txn_watermark,
        vacuum,
    )

    td = tempfile.mkdtemp(prefix="restore_")
    base = spark.range(200).select(
        "id", F.concat(F.lit("v"), F.col("id")).alias("val")
    )
    publish(
        base.repartitionByRange(4, "id"),
        td,
        1,
        stats_columns=["id"],
        txn={"tag": "sink", "batch_id": 3},
    )
    m1 = read_manifest(td)
    orig = sorted(map(tuple, read_committed(spark, td).collect()))

    ch = spark.createDataFrame(
        [(5, "X", "u", 100), (7, None, "d", 101)],
        "id bigint, val string, op string, seq bigint",
    )
    merge_cow(spark, td, ch, "id", 2, txn={"tag": "sink", "batch_id": 9})
    assert txn_watermark(read_manifest(td), "sink") == {"batch_id": 9}

    # restore: content == gen-1 exactly, file list verbatim, no staging dir
    restore(td, generation=3, as_of_generation=1)
    m3 = read_manifest(td)
    assert m3["files"] == m1["files"]
    assert m3["stats"] == m1["stats"]
    assert m3["restore"] == {"parent": 2, "restored_from": 1}
    assert not os.path.exists(os.path.join(td, "data", "gen-3"))
    assert sorted(map(tuple, read_committed(spark, td).collect())) == orig
    # replay state rewound with the data: batch 9 must RE-APPLY now
    assert txn_watermark(m3, "sink") == {"batch_id": 3}
    # rolled-back state stays time-travelable
    assert read_committed(spark, td, as_of_generation=2).where(
        F.col("id") == 5
    ).first()["val"] == "X"

    # errors: already-current, dangling after reclaim
    with _pytest.raises(ValueError, match="already the committed state"):
        restore(td, 4, as_of_generation=3)

    # gc keeps every file the restore references; then undo the restore
    gc(td, older_than_s=0.0)
    vacuum(td, older_than_s=0.0)
    assert sorted(map(tuple, read_committed(spark, td).collect())) == orig
    # gen-2's manifest was superseded+collected -> restoring to it must
    # now refuse (either missing manifest or missing files — loud, never
    # a dangling commit)
    with _pytest.raises((FileNotFoundError, ValueError)):
        restore(td, 4, as_of_generation=2)

    # MOR interop: a restore of a MOR generation carries its delete log
    merge_mor(spark, td, ch, "id", read_manifest(td)["generation"] + 1)
    g_mor = read_manifest(td)["generation"]
    mor_rows = sorted(map(tuple, read_mor(spark, td).collect()))
    restore(td, g_mor + 1, as_of_generation=3)  # back to clean COW
    assert sorted(map(tuple, read_committed(spark, td).collect())) == orig
    restore(td, g_mor + 2, as_of_generation=g_mor)  # undo the undo
    m_back = read_manifest(td)
    assert m_back.get("delete_files"), "MOR delete log must carry by reference"
    assert sorted(map(tuple, read_mor(spark, td).collect())) == mor_rows


def test_s36b_mor_feed_composition_pruning_and_fold_guard(spark):
    """change_feed_mor contract: per-interval feeds match the state diff
    and compose (1→2 then 2→3 vs 1→3 as a net diff); the resolve opens
    only stats-overlapping data files (churn-proportional I/O); an
    interval crossing a compact_mor fold or restore refuses loudly; and
    the feed drives the t32 consumer pattern (incremental aggregate ==
    full recompute)."""
    import tempfile

    import pytest as _pytest
    from pyspark.sql import functions as F  # noqa: N812

    from ez_cdc_spark.sources.manifest import (
        change_feed_mor,
        compact_mor,
        merge_mor,
        publish,
        read_manifest,
        read_mor,
    )

    td = tempfile.mkdtemp(prefix="morfeed_")
    base = spark.range(400).select(
        "id", (F.col("id") % 9).cast("string").alias("val")
    )
    publish(base.repartitionByRange(8, "id"), td, 1, stats_columns=["id"])

    def ch(rows):
        return spark.createDataFrame(
            rows, "id bigint, val string, op string, seq bigint"
        )

    merge_mor(spark, td, ch([(5, "x", "u", 101), (7, None, "d", 102)]), "id", 2)
    merge_mor(
        spark,
        td,
        ch([(5, "x2", "u", 201), (7, "back", "u", 202), (350, None, "d", 203)]),
        "id",
        3,
    )

    f12 = sorted(
        (r["_change_type"], r["id"], r["val"])
        for r in change_feed_mor(spark, td, 1, 2).collect()
    )
    assert f12 == [
        ("delete", 7, "7"),
        ("update_postimage", 5, "x"),
        ("update_preimage", 5, "5"),
    ]
    f23 = sorted(
        (r["_change_type"], r["id"], r["val"])
        for r in change_feed_mor(spark, td, 2, 3).collect()
    )
    assert f23 == [
        ("delete", 350, "8"),
        ("insert", 7, "back"),
        ("update_postimage", 5, "x2"),
        ("update_preimage", 5, "x"),
    ]
    # net diff 1->3: key 7 deleted-then-reinserted shows as ONE update pair
    f13 = sorted(
        (r["_change_type"], r["id"], r["val"])
        for r in change_feed_mor(spark, td, 1, 3).collect()
    )
    assert f13 == [
        ("delete", 350, "8"),
        ("update_postimage", 5, "x2"),
        ("update_postimage", 7, "back"),
        ("update_preimage", 5, "5"),
        ("update_preimage", 7, "7"),
    ]

    # t32 consumer pattern: feed-applied aggregate == full recompute
    sign = F.when(
        F.col("_change_type").isin("insert", "update_postimage"), F.lit(1)
    ).otherwise(F.lit(-1))
    delta = (
        change_feed_mor(spark, td, 1, 3)
        .groupBy("val")
        .agg(F.sum(sign).alias("dn"))
    )
    base_counts = base.groupBy("val").agg(F.count("*").alias("n"))
    applied = sorted(
        (r["val"], r["n"])
        for r in base_counts.join(delta, "val", "left")
        .select("val", (F.col("n") + F.coalesce(F.col("dn"), F.lit(0))).alias("n"))
        .collect()
        if r["n"] > 0
    )
    # new vals from inserts/updates not in base buckets
    extra = sorted(
        (r["val"], r["dn"])
        for r in delta.join(base_counts, "val", "left_anti").collect()
    )
    recomputed = sorted(
        (r["val"], r["n"])
        for r in read_mor(spark, td).groupBy("val").agg(F.count("*").alias("n")).collect()
    )
    assert sorted(applied + extra) == recomputed

    # churn-proportional I/O: a 1-key interval opens < half the data files
    merge_mor(spark, td, ch([(3, "y", "u", 301)]), "id", 4)
    feed = change_feed_mor(spark, td, 3, 4)
    n_data = read_manifest(td)["n_files"]
    assert len(feed.inputFiles()) < n_data / 2 + len(
        read_manifest(td)["delete_files"]
    )

    # fold composition (r16): intervals crossing compact_mor compose —
    # the chain splits at the fold, which contributes nothing
    compact_mor(spark, td, 5)
    f35 = sorted(
        (r["_change_type"], r["id"], r["val"])
        for r in change_feed_mor(spark, td, 3, 5).collect()
    )
    assert f35 == [
        ("update_postimage", 3, "y"),
        ("update_preimage", 3, "3"),
    ]
    # a pure-fold interval is an EMPTY feed (layout maintenance invisible)
    assert change_feed_mor(spark, td, 4, 5).count() == 0
    # an interval with no MOR commits refuses (use change_feed)
    from ez_cdc_spark.sources.manifest import merge_cow, restore

    merge_cow(spark, td, ch([(9, "z", "u", 401)]), "id", 6)
    with _pytest.raises(ValueError, match="copy-on-write"):
        change_feed_mor(spark, td, 5, 6)
    # crossing a restore refuses: a feed across a rollback is undefined
    restore(td, 7, as_of_generation=3)
    with _pytest.raises(ValueError, match="restore"):
        change_feed_mor(spark, td, 3, 7)



def test_s36b_mor_feed_key_predicate_matches_isin(spark, tmp_path):
    """The MOR feed restricts both resolves to the churn keys with ONE SQL
    expression text (_in_list_predicate) instead of a per-key ``isin``.
    Over parquet, under column names that need quoting, it must select
    exactly the rows ``isin`` selects: strings with quotes, backslashes,
    backticks, newlines and non-ASCII; integers at the INT and BIGINT
    edges; and a NULL in the key list (matches nothing, as in ``isin``)."""
    from pyspark.sql import functions as F  # noqa: N812
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from ez_cdc_spark.sources.manifest import _in_list_predicate

    s_col, n_col = "we`ird 'k\\ey", "n.k`"
    strs = [
        "plain", "it's", 'say "hi"', "back\\slash", "\\'", "tick`s`", "`",
        "ünïcödé €", "日本", "", "new\nline", "tab\t", "%_like", "'; DROP",
    ]
    ints = [0, 1, -1, 2**31 - 1, 2**31, -(2**31), -(2**31) - 1, 2**63 - 1, -(2**63), 42]
    rows = list(zip(strs + ["other", None], ints + [7, None, 8, 9, 10, 11]))
    schema = StructType(
        [StructField(s_col, StringType()), StructField(n_col, LongType())]
    )
    path = str(tmp_path / "keys")
    spark.createDataFrame(rows, schema).write.parquet(path)
    df = spark.read.parquet(path)

    def got(pred):
        return sorted(df.filter(pred).collect(), key=repr)

    for col, keys in (
        (s_col, strs + [None]),
        (s_col, ["it's", "`", "missing", None]),
        (n_col, ints + [None]),
        (n_col, [2**31, -(2**63), 2**63 - 1, -(2**31) - 1, 123]),
    ):
        want = got(F.col(f"`{col.replace('`', '``')}`").isin(keys))
        assert want, col
        assert got(_in_list_predicate(col, keys)) == want, (col, keys)

def test_s36c_partitioned_mor_moves_folds_and_differential(spark):
    """Partitioned MOR contract: the GLOBAL equality-delete kills a moved
    key's old row in its ORIGINAL partition (a partition-scoped delete
    would strand it); upsert files land under the Hive layout; the fold
    keeps the partitioned layout and restores pruned partition reads;
    the same change batches through partitioned merge_cow produce the
    identical state (differential); raw partitioned reads refuse MOR
    generations; key==partition-column refuses."""
    import os
    import tempfile

    import pytest as _pytest
    from pyspark.sql import functions as F  # noqa: N812

    from ez_cdc_spark.sources.manifest import (
        compact_mor,
        merge_cow,
        merge_mor,
        publish_partitioned,
        read_committed,
        read_committed_partitions,
        read_manifest,
        read_mor,
    )

    base = spark.range(300).select(
        "id",
        (F.col("id") % 3).cast("string").alias("p"),
        F.concat(F.lit("v"), F.col("id")).alias("val"),
    )

    def ch(rows):
        return spark.createDataFrame(
            rows, "id bigint, p string, val string, op string, seq bigint"
        )

    batches = [
        # moves: ids 0,30,60,... move to partition "9"; a delete; an insert
        [(i, "9", f"m{i}", "u", 100 + i) for i in range(0, 300, 30)]
        + [(7, None, None, "d", 500), (5000, "2", "new", "u", 501)],
        # re-move half back; delete one of the moved
        [(i, "1", f"b{i}", "u", 1000 + i) for i in range(0, 300, 60)]
        + [(30, None, None, "d", 1500)],
    ]

    tds = {}
    for mode in ("mor", "cow"):
        td = tempfile.mkdtemp(prefix=f"morpart_{mode}_")
        publish_partitioned(base, td, 1, "p", stats_columns=["id"])
        for g, rows in enumerate(batches, start=2):
            if mode == "mor":
                merge_mor(spark, td, ch(rows), "id", g)
            else:
                merge_cow(spark, td, ch(rows), "id", g)
        tds[mode] = td

    mor_rows = sorted(
        map(tuple, read_mor(spark, tds["mor"]).select("id", "p", "val").collect())
    )
    cow_rows = sorted(
        map(
            tuple,
            read_committed(spark, tds["cow"]).select("id", "p", "val").collect(),
        )
    )
    assert mor_rows == cow_rows and len(mor_rows) == 299
    by_id = {r[0]: r for r in mor_rows}
    assert by_id[0][1] == "1" and by_id[60][1] == "1"  # re-moved
    assert by_id[90][1] == "9"  # first move stands
    assert 7 not in by_id and 30 not in by_id
    assert by_id[5000] == (5000, "2", "new")

    td = tds["mor"]
    m = read_manifest(td)
    # upsert files landed under the Hive layout with recorded partitions
    new_rels = [r for r in m["files"] if "gen-2" in r or "gen-3" in r]
    assert new_rels and all("p=" in r for r in new_rels)
    assert all(m["partitions"].get(r) is not None for r in new_rels)
    with _pytest.raises(ValueError, match="merge-on-read"):
        read_committed_partitions(spark, td, ["9"])
    with _pytest.raises(ValueError, match="partition column"):
        merge_mor(spark, td, ch([(1, "1", "x", "u", 9)]), "p", 9)

    # fold: layout survives, pruned partition reads return, content equal
    compact_mor(spark, td, read_manifest(td)["generation"] + 1, target_files=3)
    m2 = read_manifest(td)
    assert m2["partition_col"] == "p" and not m2.get("delete_files")
    assert (
        sorted(
            map(
                tuple,
                read_committed(spark, td).select("id", "p", "val").collect(),
            )
        )
        == mor_rows
    )
    p9 = {r["id"] for r in read_committed_partitions(spark, td, ["9"]).collect()}
    assert 90 in p9 and 0 not in p9


def test_s36e_clustered_fold_restores_disjoint_ranges_and_pruning(spark):
    """S36e pins: a MOR epoch's files span the whole key range (skipping
    degraded), and compact_mor(cluster_by=[k]) folds into files with
    DISJOINT key ranges so a narrow band prunes to <=2 of them; the fold
    preserves the resolve exactly; partitioned tables and unknown
    cluster columns refuse."""
    import tempfile

    import pytest as _pytest
    from pyspark.sql import functions as F  # noqa: N812

    from ez_cdc_spark.sources.manifest import (
        compact_mor,
        merge_mor,
        publish,
        publish_partitioned,
        read_committed,
        read_manifest,
        read_mor,
        read_pruned,
    )

    td = tempfile.mkdtemp(prefix="mor_clusterfold_")
    base = spark.range(2000).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("v")
    )
    publish(base.repartitionByRange(8, "k"), td, 1, stats_columns=["k"])
    # uniform churn: keys %40==7 span every file's range; round-robin
    # repartition so the staged upsert files are NOT range-local (the
    # arrival order a real CDC batch has)
    batch = (
        base.filter(F.col("k") % 40 == 7)
        .select(
            "k", (F.col("v") + 1).alias("v"),
            F.lit("u").alias("op"), F.lit(1).cast("long").alias("seq"),
        )
        .repartition(2)
    )
    merge_mor(spark, td, batch, key_col="k", generation=2)
    m2 = read_manifest(td)
    new_rels = [r for r in m2["files"] if r not in set(read_manifest(td, 1)["files"])]
    spans = [m2["stats"][r]["k"] for r in new_rels]
    assert any(hi - lo > 1500 for lo, hi in spans)  # epoch file spans the table

    expected = sorted(
        (r["k"], r["v"]) for r in read_mor(spark, td).collect()
    )
    compact_mor(spark, td, 3, target_files=5, cluster_by=["k"])
    m3 = read_manifest(td)
    assert not m3.get("delete_files") and "fold" in m3
    got = sorted((r["k"], r["v"]) for r in read_committed(spark, td).collect())
    assert got == expected  # the clustered fold preserved the resolve
    # disjoint per-file ranges
    ranges = sorted(m3["stats"][r]["k"] for r in m3["files"])
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 < lo2, (ranges,)
    # a narrow band opens at most 2 of the 5 files
    pruned = read_pruned(spark, td, "k", 900, 1000)
    n_files = pruned.select(F.input_file_name()).distinct().count()
    assert n_files <= 2, n_files
    assert pruned.where("k BETWEEN 900 AND 1000").count() == 101

    # refusals: unknown column; partitioned layout
    with _pytest.raises(ValueError, match="not in schema"):
        compact_mor(spark, td, 4, cluster_by=["nope"])
    tdp = tempfile.mkdtemp(prefix="mor_clusterfold_part_")
    pbase = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") % 4).alias("p")
    )
    publish_partitioned(pbase, tdp, 1, partition_col="p", stats_columns=["k"])
    merge_mor(
        spark, tdp,
        pbase.filter("k < 10").select(
            "k", "p", F.lit("u").alias("op"), F.lit(1).cast("long").alias("seq")
        ),
        key_col="k", generation=2,
    )
    with _pytest.raises(ValueError, match="partition layout"):
        compact_mor(spark, tdp, 3, cluster_by=["k"])
    compact_mor(spark, tdp, 3)  # the plain fold still composes
    assert read_committed(spark, tdp).count() == 100
