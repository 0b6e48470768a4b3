"""Property-based differential tests (hypothesis).

The reference's NUnit suite checks each operator on ONE hand-built input
(SURVEY §5); these go further: random inputs, with the distributed result
compared against an independent local model of the semantics. Examples are
kept small (Spark jobs per example) — the value is in the adversarial
shapes hypothesis finds (ties, empty groups, single-element inputs,
all-identical keys), not in volume.
"""

from __future__ import annotations

import math

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

SETTINGS = dict(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

# (key, ts, value) events: few keys + tight ts range force ties and
# hot keys; value is the right-side payload being carried.
events_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2),
        st.integers(min_value=0, max_value=50),
        st.integers(min_value=0, max_value=9),
    ),
    min_size=1,
    max_size=25,
)


def _asof_local(left_rows, right_rows):
    """Local model: for each left (k, t), the payload of the latest right
    row with same k and rt <= t, ties on rt broken by LARGEST value (the
    distributed operator's ordering is (ts, marker) with last() carrying
    the final struct, so the last-sorted right row at a tied ts wins —
    we make the model deterministic by deduping ties to max value)."""
    out = {}
    for k, t, _ in left_rows:
        best = None
        for rk, rt, rv in right_rows:
            if rk == k and rt <= t and (best is None or (rt, rv) > best):
                best = (rt, rv)
        out[(k, t)] = best[1] if best else None
    return out


@given(left=events_strategy, right=events_strategy, width=st.sampled_from([1, 7, 3600]))
@settings(**SETTINGS)
def test_asof_bucketed_matches_plain_and_model(spark, left, right, width):
    """asof_join_bucketed is exact for ANY bucket width (its docstring
    contract) and both spellings match the local model. Right side is
    deduped per (k, ts) to max value so tie order is deterministic."""
    from prajna_spark.operators.asof import asof_join, asof_join_bucketed

    # dedupe right per (k, t) -> max v (mirrors catalog usage, makes ties
    # well-defined for all three implementations)
    rmap = {}
    for k, t, v in right:
        rmap[(k, t)] = max(v, rmap.get((k, t), v))
    right_d = [(k, t, v) for (k, t), v in rmap.items()]

    ldf = spark.createDataFrame(
        [(k, t) for k, t, _ in left], "k long, t long"
    ).distinct()
    rdf = spark.createDataFrame(right_d, "k long, t long, v long")

    expected = _asof_local([(k, t, 0) for k, t in {(k, t) for k, t, _ in left}],
                           right_d)

    plain = {
        (r.k, r.t): r.v_asof
        for r in asof_join(ldf, rdf, on=["k"], ts="t", right_cols=["v"]).collect()
    }
    bucketed = {
        (r.k, r.t): r.v_asof
        for r in asof_join_bucketed(
            ldf, rdf, on=["k"], ts="t", right_cols=["v"], bucket_width=width
        ).collect()
    }
    assert plain == expected
    assert bucketed == expected


@given(
    edges=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=9),
            st.integers(min_value=0, max_value=9),
        ),
        max_size=15,
    )
)
@settings(**SETTINGS)
def test_connected_components_matches_union_find(spark, edges):
    from prajna_spark.pipeline.dedup import connected_components

    nodes = list(range(10))
    parent = {i: i for i in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent[find(a)] = find(b)
    # canonical label = min node id per component
    comp_min = {}
    for i in nodes:
        r = find(i)
        comp_min[r] = min(comp_min.get(r, i), i)
    expected = {i: comp_min[find(i)] for i in nodes}

    e = spark.createDataFrame(
        edges or [(0, 0)], "id_a long, id_b long"
    )
    nd = spark.createDataFrame([(i,) for i in nodes], "id long")
    got = {
        r.id: r.component_id for r in connected_components(e, nd).collect()
    }
    assert got == expected


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=30),  # id (may repeat -> distinct)
            st.integers(min_value=0, max_value=3),   # block
        ),
        min_size=1,
        max_size=20,
    )
)
@settings(**SETTINGS)
def test_blocked_pairs_matches_naive_self_join(spark, rows):
    from prajna_spark.pipeline.dedup import blocked_pairs

    uniq = {}
    for i, b in rows:
        uniq[i] = b
    expected = {
        (a, c)
        for a in uniq
        for c in uniq
        if a < c and uniq[a] == uniq[c]
    }
    df = spark.createDataFrame(list(uniq.items()), "id long, block long")
    got = {
        (r.id_a, r.id_b)
        for r in blocked_pairs(df, "block", "id").collect()
    }
    assert got == expected


@given(
    tokens=st.lists(st.integers(min_value=1, max_value=40), min_size=1, max_size=25),
    budget=st.integers(min_value=5, max_value=60),
)
@settings(**SETTINGS)
def test_packing_invariants(spark, tokens, budget):
    """pack_sequences == the sequential concatenation model: cum_before is
    the exact running sum in order, pack_id = cum_before // budget, every
    doc packed exactly once."""
    from prajna_spark.pipeline.packing import pack_sequences

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(tokens)], "doc long, n_tok long"
    )
    got = {
        r.doc: (r.cum_before, r.pack_id, r.pack_offset)
        for r in pack_sequences(df, "n_tok", budget, order_by=["doc"]).collect()
    }
    assert sorted(got) == list(range(len(tokens)))  # exactly once
    cum = 0
    for i, t in enumerate(tokens):
        assert got[i] == (cum, cum // budget, cum - (cum // budget) * budget)
        cum += t


@given(
    points=st.lists(st.integers(min_value=0, max_value=100), min_size=1, max_size=15),
    intervals=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=100),
            st.integers(min_value=0, max_value=30),
        ),
        min_size=1,
        max_size=10,
    ),
    width=st.sampled_from([1, 7, 50, 1000]),
)
@settings(**SETTINGS)
def test_interval_join_matches_naive_for_any_bin_width(
    spark, points, intervals, width
):
    """The bin-quantized interval join is exact for ANY bin width —
    including widths larger than the whole domain (every row in one bin)
    and width 1 (maximal fan-out)."""
    from prajna_spark.operators.rangejoin import interval_join

    pts = sorted(set(points))
    ivs = [(i, s, s + d) for i, (s, d) in enumerate(intervals)]
    expected = {
        (p, i) for p in pts for i, s, e in ivs if s <= p <= e
    }
    pdf = spark.createDataFrame([(p,) for p in pts], "p long")
    idf = spark.createDataFrame(ivs, "iid long, s long, e long")
    got = {
        (r.p, r.iid)
        for r in interval_join(pdf, "p", idf, "s", "e", bin_width=width).collect()
    }
    assert got == expected


@given(
    n=st.integers(min_value=0, max_value=40),
    chunk=st.integers(min_value=1, max_value=12),
    data=st.data(),
)
@settings(**SETTINGS)
def test_chunk_documents_matches_local_model(spark, n, chunk, data):
    """chunk_documents == the local sliding-window model: starts at
    1, 1+stride, ... plus one trailing start when the tail would
    otherwise be uncovered; every token covered; chunk_id is the grid
    ordinal."""
    from prajna_spark.pipeline.packing import chunk_documents

    stride = data.draw(st.integers(min_value=1, max_value=chunk))
    toks = [f"w{i}" for i in range(n)]
    df = spark.createDataFrame([(1, " ".join(toks))], "doc_id long, text string")
    rows = sorted(
        chunk_documents(df, "doc_id", "text", chunk, stride).collect(),
        key=lambda r: r.chunk_id,
    )

    # local model
    expected = []
    if n > 0:
        starts = list(range(1, max(n - (chunk - 1), 1) + 1, stride))
        last_end = starts[-1] + chunk - 1
        if last_end < n:
            starts.append(starts[-1] + stride)
        starts = [s for s in starts if s <= n]
        expected = [
            (i, " ".join(toks[s - 1 : s - 1 + chunk]), min(chunk, n - s + 1))
            for i, s in enumerate(starts)
        ]

    got = [(r.chunk_id, r.chunk_text, r.n_tokens) for r in rows]
    assert got == expected
    covered = {t for _, text, _ in got for t in text.split(" ") if t}
    assert covered == set(toks)


# --- round-5 additions: LSH band math, sessionization, rollup cascade ---

_texts_strategy = st.lists(
    # tiny alphabet + short texts force shingle overlap, near-dups, and
    # exact dups; '' and short-of-k texts hit the single-shingle edge
    st.text(alphabet="ab ", min_size=0, max_size=24),
    min_size=2,
    max_size=12,
)


@given(texts=_texts_strategy, cap=st.sampled_from([None, 2, 5]))
@settings(**SETTINGS)
def test_lsh_band_pairs_matches_local_band_model(spark, texts, cap):
    """lsh_band_pairs == the local banding model applied to the SAME
    Spark-computed signatures: split into 4 bands of 2 hashes, ids
    colliding on any band pair up, buckets over the cap drop wholesale.
    Top of the monotonicity curve pinned exactly: identical texts have
    identical signatures, so J=1 pairs ALWAYS collide when uncapped."""
    from prajna_spark.pipeline import dedup

    corpus = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    sigs = {
        r.doc_id: [r[f"minhash_{j}"] for j in range(8)]
        for r in dedup.minhash_signature(corpus, "doc_id", "text").collect()
    }

    buckets: dict[tuple[int, str], list[int]] = {}
    for i, sig in sigs.items():
        for b in range(4):
            buckets.setdefault((b, sig[2 * b] + sig[2 * b + 1]), []).append(i)
    expected = set()
    for ids in buckets.values():
        if len(ids) < 2 or (cap is not None and len(ids) > cap):
            continue
        ids = sorted(ids)
        expected |= {(a, b) for i, a in enumerate(ids) for b in ids[i + 1 :]}

    got = {
        (r.id_a, r.id_b)
        for r in dedup.lsh_band_pairs(
            corpus, "doc_id", "text", max_bucket_size=cap
        ).collect()
    }
    assert got == expected

    if cap is None:
        dup_pairs = {
            (a, b)
            for a in range(len(texts))
            for b in range(a + 1, len(texts))
            if texts[a] == texts[b]
        }
        assert dup_pairs <= got


class _FakeGroupState:
    """Minimal stand-in for pyspark GroupState — lets the stateful
    sessionization fold run as a plain function, batch after batch."""

    def __init__(self):
        self._v = None
        self._timed_out = False

    @property
    def hasTimedOut(self):
        return self._timed_out

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = tuple(v)

    def remove(self):
        self._v = None

    def setTimeoutTimestamp(self, ms):
        self.timeout_ms = ms


@given(
    events=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=80),   # ts (seconds)
            st.integers(min_value=0, max_value=9),    # value
        ),
        min_size=1,
        max_size=30,
    ),
    gap=st.integers(min_value=1, max_value=10),
    data=st.data(),
)
@settings(**SETTINGS)
def test_sessionize_fold_matches_local_gap_model(events, gap, data):
    """The stateful sessionization fold (_sessionize_fn) over ANY split of
    the event stream into micro-batches (watermark-ordered across batches,
    arbitrary arrival order within a batch) produces exactly the sessions
    of the local gap model on the globally sorted events — state carries
    correctly across batches and the final timeout closes the last
    session. Runs the real fold function with a fake GroupState, no
    streaming harness needed."""
    import numpy as np
    import pandas as pd

    from prajna_spark.streaming.sessions import _sessionize_fn

    ordered = sorted(events)
    # local gap model over the sorted stream
    model = []
    start = end = None
    n = 0
    total = 0.0
    for t, v in ordered:
        if start is None:
            start, end, n, total = t, t, 1, float(v)
        elif t - end >= gap:
            model.append((start, end, n, total))
            start, end, n, total = t, t, 1, float(v)
        else:
            end, n, total = t, n + 1, total + v
    model.append((start, end, n, total))

    # split into consecutive batches; shuffle order within each batch
    n_cuts = data.draw(st.integers(min_value=0, max_value=min(4, len(ordered) - 1)))
    cuts = sorted(
        data.draw(
            st.lists(
                st.integers(min_value=1, max_value=len(ordered) - 1),
                min_size=n_cuts,
                max_size=n_cuts,
                unique=True,
            )
        )
        if n_cuts
        else []
    )
    batches = [
        ordered[a:b] for a, b in zip([0] + cuts, cuts + [len(ordered)]) if a < b
    ]

    fn = _sessionize_fn(gap)
    state = _FakeGroupState()
    closed = []
    for batch in batches:
        batch = data.draw(st.permutations(batch))
        pdf = pd.DataFrame(
            {
                "ts": np.array([t for t, _ in batch], dtype="datetime64[s]"),
                "value": [float(v) for _, v in batch],
            }
        )
        for out in fn((7,), iter([pdf]), state):
            closed.extend(
                (r.session_start, r.session_end, r.n_events, r.total_value)
                for r in out.itertuples()
                if r.status == "closed"
            )
    # watermark passes the last session's gap: event-time timeout fires
    state._timed_out = True
    for out in fn((7,), iter([]), state):
        closed.extend(
            (r.session_start, r.session_end, r.n_events, r.total_value)
            for r in out.itertuples()
            if r.status == "closed"
        )
    assert not state.exists  # state GC'd after close
    assert closed == model


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=500),  # ts epoch seconds
            st.sampled_from(["x", "y"]),              # dim
            st.integers(min_value=-5, max_value=9),   # value
        ),
        min_size=1,
        max_size=40,
    ),
    resolutions=st.sampled_from([[5, 10, 50], [1, 60, 3600], [2, 4], [7, 49]]),
)
@settings(**SETTINGS)
def test_cascade_rollup_matches_direct_aggregation(spark, rows, resolutions):
    """Every level of cascade_rollup (computed by cascading the NEXT-FINER
    level's partials) equals aggregating the raw events directly at that
    level's width — the partials-compose invariant that lets a 100 TB
    rollup read fine partials instead of rescanning the corpus."""
    from prajna_spark.operators.rollup_cascade import cascade_rollup

    df = spark.createDataFrame(rows, "ts long, dim string, value long")
    got = {
        (r.resolution, r.epoch_start, r.dim): (r.n_events, r.total_value)
        for r in cascade_rollup(df, "ts", ["dim"], "value", resolutions).collect()
    }

    expected = {}
    for width in resolutions:
        agg: dict[tuple[int, str], list] = {}
        for t, d, v in rows:
            key = ((t // width) * width, d)
            cur = agg.setdefault(key, [0, 0])
            cur[0] += 1
            cur[1] += v
        for (b, d), (n, s) in agg.items():
            expected[(width, b, d)] = (n, float(s))
    assert got == expected


# ---- snapshot_diff vs a local dict model ------------------------------

snap_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=15),  # key
        st.integers(min_value=0, max_value=3),   # value
    ),
    min_size=0,
    max_size=20,
    unique_by=lambda t: t[0],
)


@given(old=snap_strategy, new=snap_strategy)
@settings(**SETTINGS)
def test_snapshot_diff_matches_dict_model(spark, old, new):
    from prajna_spark.operators.upsert import snapshot_diff

    schema = "id long, v long"
    odf = spark.createDataFrame(old, schema) if old else spark.createDataFrame([], schema)
    ndf = spark.createDataFrame(new, schema) if new else spark.createDataFrame([], schema)
    got = {r["id"]: r["change_type"] for r in snapshot_diff(odf, ndf, ["id"]).collect()}
    om, nm = dict(old), dict(new)
    want = {}
    for k in om.keys() | nm.keys():
        if k not in om:
            want[k] = "insert"
        elif k not in nm:
            want[k] = "delete"
        elif om[k] != nm[k]:
            want[k] = "update"
    assert got == want


# ---- Efraimidis-Spirakis weighted_topk vs an exact local replay -------

weights_strategy = st.lists(
    st.integers(min_value=1, max_value=1000),
    min_size=1,
    max_size=30,
)


@given(ws=weights_strategy, k=st.integers(min_value=1, max_value=10))
@settings(**SETTINGS)
def test_weighted_topk_matches_local_md5_ln_replay(spark, ws, k):
    """The selected SET equals an exact local recomputation of the E-S
    keys (hashlib md5 + math.log are the same IEEE ops as the JVM's) —
    the engine-portability claim tested outside DuckDB too."""
    import hashlib
    import math

    from prajna_spark.pipeline.sampling import weighted_topk

    rows = [(i, float(w)) for i, w in enumerate(ws)]
    df = spark.createDataFrame(rows, "id long, w double")
    got = sorted(
        r["id"] for r in weighted_topk(df, "id", "w", k=k, seed="prop").collect()
    )

    space = float(16**12)
    def es_key(i, w):
        h = hashlib.md5(f"prop|{i}".encode()).hexdigest()[:12]
        u = (float(int(h, 16)) + 1.0) / (space + 1.0)
        return -math.log(u) / w

    want = sorted(
        i for i, w in rows
        if (es_key(i, w), i) in sorted(((es_key(j, wj), j) for j, wj in rows))[:k]
    )
    assert got == want and len(got) == min(k, len(rows))


# ---- split_assign: coverage, disjointness, fraction accuracy ----------

fractions_strategy = st.lists(
    st.floats(min_value=0.05, max_value=1.0), min_size=2, max_size=5
).map(lambda fs: {f"s{i}": f / sum(fs) for i, f in enumerate(fs)})


@given(fr=fractions_strategy)
@settings(**SETTINGS)
def test_split_assign_partitions_the_keyspace(spark, fr):
    from prajna_spark.pipeline.sampling import split_assign

    n = 3000
    df = spark.range(n)
    counts = {
        r["split"]: r["c"]
        for r in df.select(split_assign(F.col("id"), fr, seed="p2"))
        .groupBy("split").agg(F.count(F.lit(1)).alias("c")).collect()
    }
    assert sum(counts.values()) == n  # total coverage, no row dropped
    for name, frac in fr.items():
        got = counts.get(name, 0) / n
        assert abs(got - frac) < 0.05, (name, got, frac)


# ---- morton_key vs a local bit-interleave model -----------------------

@given(
    pairs=st.lists(
        st.tuples(st.integers(0, 255), st.integers(0, 255)),
        min_size=1, max_size=20,
    )
)
@settings(**SETTINGS)
def test_morton_key_matches_local_interleave(spark, pairs):
    from prajna_spark.operators.zorder import morton_key

    df = spark.createDataFrame(pairs, "a long, b long")
    got = [
        r["z"]
        for r in df.select(
            morton_key([F.col("a"), F.col("b")], bits=8).alias("z")
        ).collect()
    ]

    def local(a, b):
        z = 0
        for i in range(8):
            z |= ((a >> i) & 1) << (2 * i)
            z |= ((b >> i) & 1) << (2 * i + 1)
        return z

    assert sorted(got) == sorted(local(a, b) for a, b in pairs)


# short lowercase keys with heavy collision probability; ids unique
snb_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=999),
        st.text(alphabet="ab", min_size=0, max_size=3),
    ),
    min_size=1,
    max_size=20,
    unique_by=lambda r: r[0],
)


@given(rows=snb_strategy, window=st.sampled_from([2, 3, 5]))
@settings(**SETTINGS)
def test_sorted_neighborhood_matches_local_model(spark, rows, window):
    """sorted_neighborhood_pairs == pairs within `window` of each other in
    the locally sorted (key, id) order — for any window, including windows
    larger than the input and heavy key ties (the range-partition +
    prefix-sum index must realize the exact same total order)."""
    from prajna_spark.pipeline.dedup import sorted_neighborhood_pairs

    df = spark.createDataFrame(rows, "rid long, k string")
    got = {
        (r.a_id, r.b_id, r.gap)
        for r in sorted_neighborhood_pairs(df, "rid", "k", window=window).collect()
    }
    order = sorted(rows, key=lambda r: (r[1], r[0]))
    want = {
        (order[i][0], order[i + g][0], g)
        for i in range(len(order))
        for g in range(1, window)
        if i + g < len(order)
    }
    assert got == want


# documents over a 3-word alphabet: heavy shingle collisions, length
# variety, docs shorter than the gram size, exact duplicates
jac_docs_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=99),
        st.lists(st.sampled_from(["aa", "bb", "cc"]), min_size=0, max_size=10).map(
            " ".join
        ),
    ),
    min_size=1,
    max_size=12,
    unique_by=lambda r: r[0],
)


@given(rows=jac_docs_strategy, thr=st.sampled_from([0.3, 0.6, 0.9]))
@settings(**{**SETTINGS, "max_examples": 5})  # multi-stage join: ~12s/example
def test_jaccard_exact_join_matches_brute_force(spark, rows, thr):
    """Prefix filtering must find EXACTLY the brute-force pair set for any
    threshold — the no-false-negative guarantee under shingle ties, empty
    sets, and exact duplicates (J = 1.0)."""
    import math

    from prajna_spark.pipeline.dedup import jaccard_similarity_join

    def pr4(x):
        return math.floor(x * 1e4 + 0.5) / 1e4

    def sset(text, g=2):
        tk = text.split()
        return {" ".join(tk[i : i + g]) for i in range(len(tk) - g + 1)}

    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.id_a, r.id_b, r.jaccard)
        for r in jaccard_similarity_join(
            df, "doc_id", "text", threshold=thr, gram=2
        ).collect()
    }
    want = set()
    for i, (ida, ta) in enumerate(rows):
        for idb, tb in rows[i + 1 :]:
            a, b = sset(ta), sset(tb)
            lo, hi = (ida, idb) if ida < idb else (idb, ida)
            if a | b:
                j = pr4(len(a & b) / len(a | b))
                if j >= thr:
                    want.add((lo, hi, j))
    assert got == want


edges_graph_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=7), st.integers(min_value=0, max_value=7)
    ),
    min_size=1,
    max_size=24,
)


@given(edges=edges_graph_strategy)
@settings(**{**SETTINGS, "max_examples": 8})
def test_triangle_count_matches_brute_force(spark, edges):
    """Degree-ordered wedge closure == brute-force triangle enumeration
    for any multigraph with self-loops and duplicate/reversed edges."""
    from itertools import combinations

    from prajna_spark.operators.triangles import triangle_count

    df = spark.createDataFrame(edges, "src long, dst long")
    r = triangle_count(df).collect()[0]
    und = {tuple(sorted(e)) for e in edges if e[0] != e[1]}
    nodes = {n for e in und for n in e}
    brute = sum(
        1
        for a, b, c in combinations(sorted(nodes), 3)
        if {(a, b), (a, c), (b, c)} <= und
    )
    assert (r.n_edges, r.n_triangles) == (len(und), brute)


mg_rows_strategy = st.lists(
    st.sampled_from(["a", "b", "c", "d", "e", "f", "g", "h"]),
    min_size=1,
    max_size=60,
)


@given(rows=mg_rows_strategy, m=st.sampled_from([2, 3, 8]), n_parts=st.sampled_from([1, 3, 7]))
@settings(**{**SETTINGS, "max_examples": 8})
def test_mg_bounds_hold_for_any_partitioning(spark, rows, m, n_parts):
    """Misra-Gries candidate bounds must bracket true counts for ANY
    key skew, summary size, and partition layout."""
    from collections import Counter

    from prajna_spark.pipeline import heavyhitters

    df = spark.createDataFrame([(k,) for k in rows], "key string").repartition(n_parts)
    true = Counter(rows)
    bounds = {
        r.key: (r.lower, r.upper)
        for r in heavyhitters.candidate_keys(
            heavyhitters.mg_summaries(df, "key", m)
        ).collect()
    }
    for key, (lo, hi) in bounds.items():
        assert lo <= true[key] <= hi, (key, lo, true[key], hi)


hist_vals_strategy = st.lists(
    st.floats(min_value=-50.0, max_value=150.0, allow_nan=False),
    min_size=1,
    max_size=40,
)


@given(vals=hist_vals_strategy, nb=st.sampled_from([4, 10]))
@settings(**{**SETTINGS, "max_examples": 8})
def test_histogram_sketch_merge_and_rank_bound(spark, vals, nb):
    """Fixed-bound histogram: split+merge == whole (exact), and each
    quantile estimate is within one bin width of its targeted order
    statistic — including out-of-range values clamped to edge bins."""
    import math

    from prajna_spark.operators.sketch_rollup import (
        fixed_histogram,
        histogram_quantiles,
    )

    lo, hi = 0.0, 100.0
    width = (hi - lo) / nb
    df = spark.createDataFrame([("g", v) for v in vals], "g string, v double")
    whole = fixed_histogram(df, ["g"], "v", lo, hi, nb)
    h1 = fixed_histogram(df.where(F.col("v") < 30), ["g"], "v", lo, hi, nb)
    h2 = fixed_histogram(df.where(~(F.col("v") < 30)), ["g"], "v", lo, hi, nb)
    merged = (
        h1.unionByName(h2).groupBy("g", "bin").agg(F.sum("cnt").cast("long").alias("cnt"))
    )
    assert sorted(map(tuple, merged.collect())) == sorted(map(tuple, whole.collect()))

    qs = [0.5, 0.9]
    est = {
        r.q: r.est
        for r in histogram_quantiles(whole, ["g"], qs, lo, hi, nb).collect()
    }
    # clamp the reference the same way the sketch bins do
    clamped = sorted(min(max(v, lo), hi - 1e-9) for v in vals)
    for q in qs:
        k = math.ceil(q * len(clamped))
        target = clamped[max(k - 1, 0)]
        assert abs(est[q] - target) <= width + 1e-9, (q, est[q], target)


def _brute_clustering(edges):
    from collections import defaultdict

    adj = defaultdict(set)
    for u, v in edges:
        if u != v:
            adj[u].add(v)
            adj[v].add(u)
    out = {}
    for n, nb in adj.items():
        d = len(nb)
        t = sum(1 for a in nb for b in nb if a < b and b in adj[a])
        c = 2 * t / (d * (d - 1)) if d >= 2 else 0.0
        out[n] = (d, t, round(c, 6))
    return out


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 12), st.integers(0, 12)),
        min_size=1,
        max_size=60,
    )
)
@settings(max_examples=8, deadline=None)
def test_clustering_coefficients_match_brute_force(spark, edges):
    from prajna_spark.operators.triangles import clustering_coefficients

    from prajna_spark.operators.lifecycle import persist_scope

    df = spark.createDataFrame(edges, "src int, dst int")
    with persist_scope():
        got = {
            r["node"]: (r["degree"], r["n_triangles"], r["clustering"])
            for r in clustering_coefficients(df).collect()
        }
    assert got == _brute_clustering(edges)


@given(
    pts=st.lists(
        st.tuples(st.integers(-8, 8), st.integers(-8, 8)),
        min_size=1,
        max_size=50,
    )
)
@settings(**SETTINGS)
def test_skyline_matches_dominance_definition(spark, pts):
    from collections import Counter

    from prajna_spark.operators.lifecycle import persist_scope
    from prajna_spark.operators.skyline import skyline_2d

    df = spark.createDataFrame(
        [(float(x), float(y)) for x, y in pts], "x double, y double"
    ).repartition(4)
    with persist_scope():
        got = sorted(
            (r["x"], r["y"], r["n_rows"]) for r in skyline_2d(df, "x", "y").collect()
        )
    cnt = Counter((float(x), float(y)) for x, y in pts)
    want = sorted(
        (x, y, n)
        for (x, y), n in cnt.items()
        if not any(
            qx <= x and qy >= y and (qx < x or qy > y) for (qx, qy) in cnt
        )
    )
    assert got == want


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 5), st.integers(0, 40)),  # (bucket_slot, key)
        min_size=1,
        max_size=80,
    ),
    k=st.integers(2, 8),
)
@settings(**SETTINGS)
def test_kmv_merge_equals_direct_for_any_bucketing(spark, rows, k):
    """kmv_merge(finer partials) == kmv_partials at the coarse width, for
    ANY event placement — the sketch-algebra equality as a property, not
    just the fixed-fixture case."""
    from prajna_spark.operators.sketch_rollup import kmv_merge, kmv_partials

    df = spark.createDataFrame(
        [(slot * 10, f"u{key}") for slot, key in rows], "t long, user_id string"
    )
    fine = kmv_partials(df, "t", [], "user_id", 10, k=k)
    merged = {
        r["epoch_start"]: r["sketch"]
        for r in kmv_merge(fine, [], 30, k=k).collect()
    }
    direct = {
        r["epoch_start"]: r["sketch"]
        for r in kmv_partials(df, "t", [], "user_id", 30, k=k).collect()
    }
    assert merged == direct


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 60)),  # (key, t)
        min_size=1,
        max_size=60,
        unique=True,
    ),
    gap=st.integers(1, 10),
)
@settings(**SETTINGS)
def test_burst_first_matches_local_chain_model(spark, rows, gap):
    from prajna_spark.operators.intervals import burst_first

    df = spark.createDataFrame(rows, "k int, t long")
    got = sorted(
        (r["k"], r["t"]) for r in burst_first(df, ["k"], "t", gap).collect()
    )
    want = []
    by_key: dict[int, list[int]] = {}
    for kk, t in rows:
        by_key.setdefault(kk, []).append(t)
    for kk, ts in by_key.items():
        prev = None
        for t in sorted(ts):
            if prev is None or t - prev > gap:
                want.append((kk, t))
            prev = t  # chain: measured from the previous RAW event
    assert got == sorted(want)


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 10), st.integers(0, 10), st.integers(1, 9)),
        min_size=1,
        max_size=40,
    ),
    hops=st.integers(1, 4),
)
@settings(**SETTINGS)
def test_bounded_sssp_matches_local_relaxation(spark, edges, hops):
    from prajna_spark.operators.bfs import bounded_sssp

    e = spark.createDataFrame(
        [(s, d, float(w)) for s, d, w in edges], "src long, dst long, w double"
    )
    seeds = spark.createDataFrame([(0,), (5,)], "nid long")
    got = {
        r["node_id"]: r["dist"]
        for r in bounded_sssp(e, seeds, max_hops=hops).collect()
    }
    dist = {0: 0.0, 5: 0.0}
    for _ in range(hops):
        nxt = dict(dist)
        for s, d, w in edges:
            if s in dist:
                cand = dist[s] + w
                if cand < nxt.get(d, float("inf")):
                    nxt[d] = cand
        dist = nxt
    assert got == {n: round(v, 6) for n, v in dist.items()}


def _local_kcore(edges, k):
    from collections import defaultdict

    adj = defaultdict(set)
    for u, v in edges:
        if u != v:
            adj[u].add(v)
            adj[v].add(u)
    alive = set(adj)
    changed = True
    while changed:
        drop = {n for n in alive if sum(1 for m in adj[n] if m in alive) < k}
        changed = bool(drop)
        alive -= drop
    return {n: sum(1 for m in adj[n] if m in alive) for n in alive}


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 12), st.integers(0, 12)),
        min_size=1,
        max_size=50,
    ),
    k=st.integers(1, 4),
)
@settings(**SETTINGS)
def test_k_core_matches_local_peeling(spark, edges, k):
    from prajna_spark.operators.triangles import k_core

    df = spark.createDataFrame(edges, "src int, dst int")
    got = {
        r["node_id"]: r["core_degree"]
        for r in k_core(df, k, max_rounds=30).collect()
    }
    assert got == _local_kcore(edges, k)


# ------------------------------------------------------ first_extremum
# Few distinct keys force ties; NaN, infinities and nulls exercise the
# ordering edges. Each example is a batch of arrays scored in one job.
_NAN = float("nan")
_key_strategy = st.one_of(
    st.none(),
    st.sampled_from([0.0, 1.0, -1.0, 2.5, _NAN, float("inf"), float("-inf")]),
    st.floats(allow_nan=True),
)
# shapes every batch carries: empty, all-null, NaN-only, first-NaN, ties
_FIXED_KEY_ARRAYS = [
    [],
    [None, None],
    [_NAN, _NAN],
    [_NAN, 1.0, _NAN, 1.0],
    [None, 2.0, 2.0, None, 2.0],
]


def _spark_less(a: float, b: float) -> bool:
    """Spark's double ordering: NaN above every number, NaN == NaN."""
    if math.isnan(a):
        return False
    return math.isnan(b) or a < b


def _first_extremum_local(keys, minimize: bool):
    best = None
    for i, k in enumerate(keys):
        if k is None:
            continue
        if best is None or (
            _spark_less(k, keys[best]) if minimize else _spark_less(keys[best], k)
        ):
            best = i
    return best


@pytest.mark.parametrize("minimize", [True, False])
@given(batch=st.lists(st.lists(_key_strategy, max_size=8), max_size=12))
@settings(**SETTINGS)
def test_first_extremum_matches_local_model(spark, minimize, batch):
    """first_extremum keeps the first winner on ties, skips null keys,
    gives null for an all-null or empty array, and orders NaN above every
    number (a maximum keeps the first NaN; a minimum is NaN only when
    every key is) — the array_min/array_max + array_position contract the
    IVF, PQ and k-means argmins rely on."""
    from prajna_spark.pipeline.similarity import first_extremum

    arrays = _FIXED_KEY_ARRAYS + batch
    df = spark.createDataFrame(list(enumerate(arrays)), "id long, xs array<double>")
    scored = F.transform("xs", lambda x, i: F.struct(x.alias("k"), i.alias("i")))
    best = first_extremum(scored, "struct<k:double,i:int>", "k", "i", minimize)
    got = {r.id: r.i for r in df.select("id", best["i"].alias("i")).collect()}
    want = {i: _first_extremum_local(xs, minimize) for i, xs in enumerate(arrays)}
    assert got == want
