"""Property-based tests: HyTable vs a python model, concurrent CAS
commits, minhash/jaccard invariants."""

import threading
import time

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from iceberg_hybrid_spark.lake import gc as G
from iceberg_hybrid_spark.lake.table import HyTable


# --- HyTable random op sequences vs model -----------------------------------

op_strategy = st.lists(
    st.one_of(
        st.tuples(st.just("append"), st.integers(min_value=1, max_value=40)),
        st.tuples(st.just("overwrite"), st.integers(min_value=0, max_value=40)),
        st.tuples(st.just("expire"), st.integers(min_value=1, max_value=3)),
        st.tuples(st.just("tag"), st.just(0)),
        st.tuples(st.just("branch"), st.integers(min_value=1, max_value=40)),
        st.tuples(st.just("gc"), st.integers(min_value=1, max_value=3)),
    ),
    min_size=1,
    max_size=6,
)


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(ops=op_strategy)
def test_hytable_matches_model(spark, tmp_path_factory, ops):
    """Row count and snapshot-set invariants hold for arbitrary
    append/overwrite/expire/tag/branch/gc sequences: expiry keeps exactly
    the model's retained snapshots (the last N, the head and every ref
    head), time travel reproduces the model's historical row counts for
    every snapshot GC has not collected, and every ref head reads its
    model row count."""
    root = str(tmp_path_factory.mktemp("prop") / "tbl")
    t = HyTable(spark, root)
    model_rows = 0
    head_seq = 0
    history: dict[int, int] = {}  # model row count per committed seq
    refs: dict[str, int] = {}  # ref name -> the seq it points at
    collected: set[int] = set()  # seqs whose files GC may have deleted

    def retained(last: int) -> set[int]:
        return set(sorted(history)[-last:]) | {head_seq} | set(refs.values())

    for i, (op, arg) in enumerate(ops):
        if op == "append":
            df = spark.range(arg).toDF("id")
            head_seq = (t.append(df) if t.exists() else t.create(df)).sequence_number
            model_rows += arg
            history[head_seq] = model_rows
        elif not t.exists():
            continue
        elif op == "overwrite":
            head_seq = t.overwrite(spark.range(arg).toDF("id")).sequence_number
            model_rows = arg
            history[head_seq] = model_rows
        elif op == "tag":
            refs[f"t{i}"] = t.create_tag(f"t{i}").sequence_number
        elif op == "branch":
            t.create_branch(f"b{i}")
            seq = t.append_to_branch(f"b{i}", spark.range(arg).toDF("id")).sequence_number
            history[seq] = model_rows + arg
            refs[f"b{i}"] = seq
        elif op == "expire":
            keep = retained(arg)
            t.expire_snapshots(retain_last=arg)
            history = {s: n for s, n in history.items() if s in keep}
        else:  # gc: produce + an aged apply, no grace
            keep = retained(arg)
            now = int(time.time() * 1000)
            gen = now - 400_000
            cands = G.produce_candidates(t, retain_last=arg, grace_s=0, now_ms=gen)
            G.apply_delete_plan(
                G.DeletePlan(t.root, cands, gen, gen, now + 10**7), safety_delay_s=60, now_ms=now
            )
            collected |= set(history) - keep
    if not t.exists():
        return
    assert [s.sequence_number for s in t.snapshots()] == sorted(history)
    assert t.current_snapshot().sequence_number == head_seq
    assert t.read().count() == model_rows
    for name, seq in refs.items():
        is_branch = name.startswith("b")
        assert (t.branch_head(name) if is_branch else t.tag_head(name)).sequence_number == seq
        assert (t.read_branch(name) if is_branch else t.read_tag(name)).count() == history[seq]
    # the other snapshots GC has not collected still read to their counts
    for seq in sorted(set(history) - collected - set(refs.values()) - {head_seq}):
        assert t.read(seq=seq).count() == history[seq]


def test_concurrent_appends_no_lost_updates(spark, tmp_path):
    """N racing writers: every append lands exactly once (CAS + retry),
    final row count is the sum — the reference's concurrent-registration
    spec (InMemoryRegistryAdapterSpec:172-216) applied to commits."""
    root = str(tmp_path / "tbl")
    t = HyTable(spark, root)
    t.create(spark.range(0, 10).toDF("id"))
    errors = []

    def writer(k):
        try:
            # each thread its own handle (no shared mutable state)
            HyTable(spark, root).append(
                spark.range(k * 100, k * 100 + 20).toDF("id")
            )
        except Exception as e:  # noqa: BLE001
            errors.append(e)

    threads = [threading.Thread(target=writer, args=(k,)) for k in range(4)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors
    assert t.read().count() == 10 + 4 * 20
    assert t.current_snapshot().sequence_number == 5
    # every snapshot's parent chain is consistent
    snaps = t.snapshots()
    for prev, cur in zip(snaps, snaps[1:]):
        assert cur.parent_id == prev.snapshot_id


def test_concurrent_branch_appends_no_lost_updates(spark, tmp_path, monkeypatch):
    """N racing branch writers: the branch moves by CAS on the head each
    commit was based on, so every append lands on the branch exactly
    once and main is untouched.  The writers' first commits start
    together, and the one that wins pauses before its pointer move, so
    the others commit on the same branch head meanwhile."""
    root = str(tmp_path / "tbl")
    t = HyTable(spark, root)
    t.create(spark.range(0, 10).toDF("id"))
    t.create_branch("b")
    errors = []
    cas = HyTable._commit
    start = threading.Barrier(4)
    first = threading.local()

    def racing_cas(self, snap):
        if getattr(first, "done", False):
            return cas(self, snap)
        first.done = True
        start.wait()
        out = cas(self, snap)
        time.sleep(0.1)
        return out

    monkeypatch.setattr(HyTable, "_commit", racing_cas)

    def writer(k):
        try:
            HyTable(spark, root).append_to_branch(
                "b", spark.range(k * 100, k * 100 + 20).toDF("id")
            )
        except Exception as e:  # noqa: BLE001
            errors.append(e)

    threads = [threading.Thread(target=writer, args=(k,)) for k in range(4)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors
    assert t.read_branch("b").count() == 10 + 4 * 20
    assert t.read().count() == 10


# --- minhash / jaccard invariants -------------------------------------------

@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(words=st.lists(st.sampled_from("abcdefgh"), min_size=3, max_size=30),
       mutations=st.integers(min_value=0, max_value=3))
def test_minhash_collision_monotone_in_similarity(spark, words, mutations):
    """Identical docs always collide on every band; jaccard of a doc with
    itself is 1.0."""
    from pyspark.sql import functions as F

    from iceberg_hybrid_spark.functions.dedup import minhash_from_shingles, ngram_jaccard
    from iceberg_hybrid_spark.functions.text import shingles

    text = " ".join(words)
    df = spark.createDataFrame([(1, text), (2, text)], "doc_id long, text string")
    sigs = df.select(
        "doc_id", minhash_from_shingles(shingles("text"), 8).alias("sig")
    ).collect()
    assert sigs[0].sig == sigs[1].sig  # identical text → identical signature
    jac = (
        df.filter("doc_id = 1")
        .select(ngram_jaccard(shingles("text"), shingles("text")).alias("j"))
        .collect()[0]
        .j
    )
    assert jac == 1.0


# --- sequence packing: sharding is a pure re-partition of the pack ----------

@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(shards=st.integers(min_value=1, max_value=9),
       bin_size=st.sampled_from([64, 256, 512]))
def test_sequence_packing_invariants_any_shard_count(spark, shards, bin_size):
    from collections import defaultdict

    from iceberg_hybrid_spark.queries.pipeline import sequence_packing

    rows = sequence_packing(
        spark, "/root/testdata/sf0.001", shards=shards, bin_size=bin_size
    ).collect()
    per_lang = defaultdict(lambda: [0, 0])
    for r in rows:
        assert r.doc_count >= 1
        assert r.bin_tokens >= 1
        assert 0 <= r.bin
        per_lang[r.lang][0] += r.doc_count
        per_lang[r.lang][1] += r.bin_tokens
    # doc/token totals are invariant under any shard count.  (Bin-id
    # DENSITY is deliberately not asserted: greedy packing skips bin ids
    # whenever one doc spans multiple bin widths — e.g. a 200-token doc
    # at bin_size=64 jumps the counter — so density only holds when
    # bin_size exceeds every doc, as in the pinned unit test.)
    base = sequence_packing(spark, "/root/testdata/sf0.001", bin_size=bin_size)
    ref = defaultdict(lambda: [0, 0])
    for r in base.collect():
        ref[r.lang][0] += r.doc_count
        ref[r.lang][1] += r.bin_tokens
    for lang, totals in per_lang.items():
        assert totals == ref[lang], lang


# --- LSH candidate pairs: sound (subset of ordered pairs) + complete on dups -

@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(seed=st.integers(min_value=0, max_value=2**16))
def test_lsh_candidates_sound_and_dup_complete(spark, seed):
    import random

    from iceberg_hybrid_spark.functions import similarity as S

    rng = random.Random(seed)
    dim = 16
    rows = [(i, [rng.gauss(0, 1) for _ in range(dim)]) for i in range(30)]
    rows.append((999, list(rows[0][1])))  # exact duplicate vector
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    planes = [[rng.gauss(0, 1) for _ in range(dim)] for _ in range(32)]
    cands = {(r.id_a, r.id_b)
             for r in S.lsh_candidate_pairs(emb, planes, bands=8).collect()}
    assert all(a < b for a, b in cands)  # sound: ordered, no self-pairs
    assert (0, 999) in cands  # an identical vector is always a candidate


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(edges=st.lists(
    st.tuples(st.integers(min_value=0, max_value=25),
              st.integers(min_value=0, max_value=25)),
    min_size=1, max_size=40))
def test_connected_components_matches_union_find(spark, edges):
    """The distributed min-label-propagation CC must agree with a plain
    union-find on arbitrary random graphs: same node set, components
    labeled by their minimum member, identical partition of nodes."""
    from iceberg_hybrid_spark.functions.dedup import connected_components

    pairs = [(a, b) for a, b in edges if a != b]
    if not pairs:
        return
    # reference: union-find with min-label components
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expected = {x: find(x) for x in parent}

    df = spark.createDataFrame(pairs, "id_a long, id_b long")
    got = {r.node: r.component
           for r in connected_components(df, "id_a", "id_b").collect()}
    assert got == expected


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    op=st.sampled_from(["=", "!=", "<", "<=", ">", ">=", "in",
                        "is_null", "is_not_null"]),
    val=st.integers(min_value=-5, max_value=30),
    extra=st.lists(st.integers(min_value=-5, max_value=30),
                   min_size=1, max_size=3),
)
def test_manifest_pruning_never_drops_matching_rows(
    spark, tmp_path_factory, op, val, extra
):
    """Soundness of every pruning op: read(preds) returns exactly the
    rows a full scan + filter would — pruning may skip files, never
    rows.  Exercises min/max, null_value_counts, IN lists, and != on
    constant files."""
    from pyspark.sql import functions as F

    from iceberg_hybrid_spark.lake.table import HyTable

    root = tmp_path_factory.mktemp("prune")
    t = HyTable(spark, str(root / "t"))
    # three files with distinct ranges + a nullable column; one constant
    base = spark.range(0, 10).select(
        "id",
        F.when(F.col("id") % 3 == 0, None).otherwise(F.col("id")).alias("v"),
    )
    t.create(base.coalesce(1))
    t.append(
        spark.range(10, 20).select("id", F.col("id").alias("v")).coalesce(1)
    )
    t.append(
        spark.range(25, 26).select("id", F.col("id").alias("v")).coalesce(1)
    )

    pred_val = extra if op == "in" else (None if op.startswith("is_") else val)
    got = {tuple(r) for r in t.read(preds=[("v", op, pred_val)]).collect()}

    full = {tuple(r) for r in t.read().collect()}
    py_ops = {
        "=": lambda x: x is not None and x == val,
        "!=": lambda x: x is not None and x != val,
        "<": lambda x: x is not None and x < val,
        "<=": lambda x: x is not None and x <= val,
        ">": lambda x: x is not None and x > val,
        ">=": lambda x: x is not None and x >= val,
        "in": lambda x: x is not None and x in extra,
        "is_null": lambda x: x is None,
        "is_not_null": lambda x: x is not None,
    }
    expected = {row for row in full if py_ops[op](row[1])}
    assert got == expected


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(seed=st.integers(min_value=0, max_value=2**16),
       n=st.integers(min_value=2, max_value=24),
       k=st.integers(min_value=1, max_value=3))
def test_semantic_dedup_matches_brute_force(spark, seed, n, k):
    """The Gram-matrix kernel agrees with a direct per-pair recomputation
    of the SemDeDup rule (round-6 cosine >= thr within a cluster; drop the
    member farther from the centroid, tie -> larger id) on random inputs,
    including zero vectors."""
    import math
    import random

    from iceberg_hybrid_spark.functions.dedup import semantic_dedup_victims

    rng = random.Random(seed)
    dim = 4
    rows = []
    for i in range(n):
        vec = [0.0] * dim if rng.random() < 0.1 else [
            rng.gauss(0.0, 1.0) for _ in range(dim)
        ]
        rows.append((i, vec, rng.randrange(k)))
    centers = [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(k)]
    thr = 0.5

    def cos(a, b):
        na, nb = math.sqrt(sum(x * x for x in a)), math.sqrt(sum(x * x for x in b))
        if na == 0.0:
            na = 1.0
        if nb == 0.0:
            nb = 1.0
        return round(sum(x / na * y / nb for x, y in zip(a, b)), 6)

    expected = set()
    for i, (ida, va, ca) in enumerate(rows):
        for idb, vb, cb in rows[i + 1:]:
            if ca != cb or cos(va, vb) < thr:
                continue
            c2ca, c2cb = cos(va, centers[ca]), cos(vb, centers[ca])
            expected.add(ida if c2ca < c2cb else idb)

    assigned = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, ivf_centroid int"
    )
    got = {
        r.vec_id
        for r in semantic_dedup_victims(assigned, centers, thr).collect()
    }
    assert got == expected


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(seed=st.integers(min_value=0, max_value=2**16),
       n=st.integers(min_value=1, max_value=24),
       buckets=st.integers(min_value=1, max_value=4))
def test_bucket_top1_matches_brute_force(spark, seed, n, buckets):
    """The per-bucket Gram top-1 kernel agrees with a direct per-pair
    recomputation (round-6 cosine; tiebreak cosine desc, neighbor id
    asc) on random inputs, including zero vectors and singleton buckets
    (which must emit no row, matching the inner-join form)."""
    import math
    import random

    from iceberg_hybrid_spark.functions.similarity import bucket_top1_neighbors

    rng = random.Random(seed)
    dim = 4
    rows = []
    for i in range(n):
        vec = [0.0] * dim if rng.random() < 0.1 else [
            rng.gauss(0.0, 1.0) for _ in range(dim)
        ]
        rows.append((i, vec, f"b{rng.randrange(buckets)}"))

    def cos(a, b):
        na, nb = math.sqrt(sum(x * x for x in a)), math.sqrt(sum(x * x for x in b))
        if na == 0.0:
            na = 1.0
        if nb == 0.0:
            nb = 1.0
        return round(sum(x / na * y / nb for x, y in zip(a, b)), 6)

    expected = {}
    for ida, va, ba in rows:
        best = None
        for idb, vb, bb in rows:
            if idb == ida or bb != ba:
                continue
            c = cos(va, vb)
            if best is None or c > best[1] or (c == best[1] and idb < best[0]):
                best = (idb, c)
        if best is not None:
            expected[ida] = best

    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, lsh_bucket string"
    )
    got = {
        r.vec_id: (r.neighbor_id, r.cosine_sim)
        for r in bucket_top1_neighbors(df).collect()
    }
    assert got == expected


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(seed=st.integers(min_value=0, max_value=2**16))
def test_vocab_coverage_tie_groups_match_per_token_ranking(spark, seed, tmp_path_factory):
    """The count-distribution tie-group arithmetic in vocab_coverage_curve
    equals brute-force per-token ranking (count desc, token asc) for any
    corpus, including N larger than the vocabulary and heavy ties."""
    import random

    from iceberg_hybrid_spark.queries.pipeline import vocab_coverage_curve

    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(rng.randint(1, 30))]
    docs = []
    for i in range(rng.randint(1, 40)):
        lang = rng.choice(["aa", "bb"])
        words = [rng.choice(vocab) for _ in range(rng.randint(1, 60))]
        docs.append((i, " ".join(words), lang, "src0", len(" ".join(words))))

    sf_dir = str(tmp_path_factory.mktemp("vocabcov"))
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{sf_dir}/documents.parquet")

    # brute force: rank every (lang, token) by (count desc, token asc)
    from collections import Counter

    by_lang: dict = {}
    for _, text, lang, _, _ in docs:
        by_lang.setdefault(lang, Counter()).update(text.split(" "))
    expected = {}
    for lang, ctr in by_lang.items():
        ranked = sorted(ctr.items(), key=lambda kv: (-kv[1], kv[0]))
        total = sum(ctr.values())
        for n in (50, 200, 1000):
            covered = sum(c for _, c in ranked[:n])
            expected[(lang, n)] = (covered, total,
                                   round(covered / total - 1e-9, 4) + 0.0)

    got = {
        (r.lang, r.top_n): (r.covered_mass, r.total_mass, r.coverage)
        for r in vocab_coverage_curve(spark, sf_dir).collect()
    }
    assert got == expected


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(seed=st.integers(min_value=0, max_value=2**16),
       n=st.integers(min_value=1, max_value=30))
def test_all_pairs_cosine_kernel_matches_brute_force(spark, seed, n):
    """The blocked-Gram exact near-dup kernel agrees with a direct
    per-pair recomputation (round-6 cosine, id_a < id_b, threshold
    filter) on random inputs — including correlated vectors that
    actually produce pairs, zero vectors, and a single-row corpus.
    The corpus fixtures yield zero pairs at the query's 0.8 threshold,
    so without this test the oracle passes vacuously."""
    import math
    import random

    from iceberg_hybrid_spark.functions.similarity import all_pairs_cosine_pairs

    rng = random.Random(seed)
    dim = 6
    base = [rng.gauss(0.0, 1.0) for _ in range(dim)]
    rows = []
    for i in range(n):
        if rng.random() < 0.1:
            vec = [0.0] * dim
        elif rng.random() < 0.5:  # correlated family -> real pairs
            vec = [x + rng.gauss(0.0, 0.3) for x in base]
        else:
            vec = [rng.gauss(0.0, 1.0) for _ in range(dim)]
        rows.append((i, vec))
    thr = 0.5

    def cos(a, b):
        na, nb = math.sqrt(sum(x * x for x in a)), math.sqrt(sum(x * x for x in b))
        if na == 0.0:
            na = 1.0
        if nb == 0.0:
            nb = 1.0
        return round(sum(x / na * y / nb for x, y in zip(a, b)), 6)

    expected = {
        (ia, ib): cos(va, vb)
        for idx, (ia, va) in enumerate(rows)
        for ib, vb in rows[idx + 1:]
        if cos(va, vb) >= thr
    }
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        (r.id_a, r.id_b): r.cosine_sim
        for r in all_pairs_cosine_pairs(df, thr).collect()
    }
    assert got == expected


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(seed=st.integers(min_value=0, max_value=2**16),
       n=st.integers(min_value=2, max_value=25),
       bands=st.sampled_from([2, 4, 8]))
def test_arrow_lsh_candidates_match_banding_rule(spark, seed, n, bands):
    """lsh_candidate_pairs_arrow returns exactly the pairs agreeing on
    every sign bit of at least one band — verified against a direct
    Python recomputation of the banding rule from the same planes."""
    import random

    from iceberg_hybrid_spark.functions.similarity import lsh_candidate_pairs_arrow

    rng = random.Random(seed)
    dim = 8
    n_planes = bands * 3  # 3 bits per band
    rows = [(i, [rng.gauss(0.0, 1.0) for _ in range(dim)]) for i in range(n)]
    planes = [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)]

    def sig(vec):
        return [sum(x * p for x, p in zip(vec, plane)) >= 0 for plane in planes]

    sigs = {i: sig(v) for i, v in rows}
    r = n_planes // bands
    expected = set()
    for idx, (ia, _) in enumerate(rows):
        for ib, _ in rows[idx + 1:]:
            for j in range(bands):
                if sigs[ia][j * r:(j + 1) * r] == sigs[ib][j * r:(j + 1) * r]:
                    expected.add((ia, ib))
                    break

    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        (row.id_a, row.id_b)
        for row in lsh_candidate_pairs_arrow(df, planes, bands=bands).collect()
    }
    assert got == expected


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(vals=st.lists(
    st.floats(min_value=-1e6, max_value=1e6, allow_nan=False,
              allow_infinity=False),
    min_size=1, max_size=30,
))
def test_pushdown_barrier_is_value_identical(spark, vals):
    """stop_predicate_pushdown's contract: the wrapped column is
    bit-identical to the raw column for any finite input (the -0.0 →
    +0.0 normalization is the single documented exception), while the
    expression stays nondeterministic so filters cannot reorder past it.
    This pins the additive-zero implementation against 'simplification'
    rewrites (an always-true CASE WHEN version was silently removed by
    the optimizer once)."""
    import pyspark.sql.functions as F

    from iceberg_hybrid_spark.plans.barrier import stop_predicate_pushdown

    df = spark.createDataFrame([(i, v) for i, v in enumerate(vals)], "i long, v double")
    out = df.select(
        "i", "v", stop_predicate_pushdown(F.col("v")).alias("b")
    ).collect()
    for r in out:
        expect = 0.0 if r.v == 0.0 else r.v  # -0.0 normalizes to +0.0
        assert r.b == expect and (r.b != 0.0 or str(r.b) == str(expect)), r
    # nondeterminism is what blocks the pushdown — pin it
    assert "rand" in str(stop_predicate_pushdown(F.col("v"))).lower()


# --- count-min cells are mergeable (the streaming-state contract) -----------

@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(a=st.lists(st.sampled_from("abcdefgh"), max_size=25),
       b=st.lists(st.sampled_from("abcdefgh"), max_size=25))
def test_cms_cells_merge_equals_union_sketch(spark, a, b):
    """cells(A) + cells(B) merged by cell-wise SUM equals cells(A ++ B)
    for arbitrary token multisets — the additivity streaming_cms_ingest's
    per-batch fold relies on (and the property that makes the final
    state independent of how deliveries fold into micro-batches)."""
    from pyspark.sql import functions as F

    from iceberg_hybrid_spark.functions.sketch import cms_cells

    def cells_of(tokens):
        if not tokens:
            return {}
        df = spark.createDataFrame([(w,) for w in tokens], "w string")
        return {
            (r.r, r.cell): r.cnt for r in cms_cells(df, width=64).collect()
        }

    ca, cb, cu = cells_of(a), cells_of(b), cells_of(a + b)
    merged = dict(ca)
    for k, v in cb.items():
        merged[k] = merged.get(k, 0) + v
    assert merged == cu


# --- prefix filtering is complete vs brute force ----------------------------

@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(seed=st.integers(min_value=0, max_value=10_000))
def test_prefix_filter_complete_on_random_corpora(
    spark, tmp_path_factory, seed
):
    """jaccard_prefix_filter_pairs == brute-force all-pairs shingle
    Jaccard >= 0.3 on random corpora with planted near-dups — the
    prefix-filter theorem's implementation (rarest-first order, integer
    prefix length) holds for arbitrary vocabularies and mutation
    levels, not just the committed fixtures."""
    import itertools
    import os
    import random

    from pyspark.sql import functions as F

    from iceberg_hybrid_spark.functions.text import shingle_hashes
    from iceberg_hybrid_spark.queries.llm import jaccard_prefix_filter_pairs

    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(30)]
    docs = []
    for i in range(10):
        docs.append((i, " ".join(rng.choice(vocab) for _ in range(rng.randint(4, 25)))))
    # plant near-dups: copies of doc 0 with 0-2 token mutations
    base = docs[0][1].split(" ")
    for j, muts in ((10, 0), (11, 1), (12, 2)):
        w = list(base)
        for _ in range(muts):
            w[rng.randrange(len(w))] = rng.choice(vocab)
        docs.append((j, " ".join(w)))

    sf_dir = str(tmp_path_factory.mktemp("pfprop") / "sf")
    os.makedirs(sf_dir)
    spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in docs],
        "doc_id long, text string, lang string, source string, n_chars int",
    ).coalesce(1).write.parquet(os.path.join(sf_dir, "documents.parquet"))

    got = {(r.id_a, r.id_b) for r in
           jaccard_prefix_filter_pairs(spark, sf_dir).collect()}

    sh = {r.doc_id: set(r.s) for r in spark.createDataFrame(
        [(i, t) for i, t in docs], "doc_id long, text string"
    ).select("doc_id", shingle_hashes(F.col("text")).alias("s")).collect()}
    want = set()
    for x, y in itertools.combinations(sorted(sh), 2):
        union = len(sh[x] | sh[y])
        j = round(len(sh[x] & sh[y]) / max(union, 1) - 1e-9, 4)
        if j >= 0.3:
            want.add((x, y))
    assert got == want


# --- KMV sketch twin: prune exactness on random corpora ----------------------

_kmv_doc = st.lists(
    st.sampled_from("abcdefghijklmn"), min_size=0, max_size=40
)


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    docs=st.lists(_kmv_doc, min_size=4, max_size=24),
    rep=st.integers(min_value=1, max_value=30),
)
def test_kmv_sketch_twin_equals_audit_on_random_corpora(spark, tmp_path_factory, docs, rep):
    """The sketch twin's threshold prune + verified fallback must be
    RESULT-INVARIANT for any corpus shape hypothesis can produce —
    including sub-k-token docs (empty shingle sets), extreme repetition
    (the n_chars upper bound maximally loose, forcing the fallback), and
    skewed source sizes.  Equality target: the audited form's estimator
    columns on the same directory."""
    import os

    from iceberg_hybrid_spark.queries.pipeline import (
        kmv_source_overlap,
        kmv_source_overlap_sketch,
    )

    rows = []
    for i, words in enumerate(docs):
        text = " ".join(words * (rep if i % 3 == 0 else 1))
        rows.append((i, text, f"src{i % 3}", "en", len(text)))
    df = spark.createDataFrame(
        rows, "doc_id bigint, text string, source string, lang string, n_chars int"
    )
    sf_dir = str(tmp_path_factory.mktemp("kmvprop"))
    df.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(sf_dir, "documents.parquet")
    )
    audit = {
        (r["src_a"], r["src_b"]): (
            r["kmv_union_est"], r["kmv_intersection_est"], r["kmv_jaccard_est"]
        )
        for r in kmv_source_overlap(spark, sf_dir).collect()
    }
    sketch = {
        (r["src_a"], r["src_b"]): (
            r["kmv_union_est"], r["kmv_intersection_est"], r["kmv_jaccard_est"]
        )
        for r in kmv_source_overlap_sketch(spark, sf_dir).collect()
    }
    assert sketch == audit
