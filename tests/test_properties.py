"""Property-based semantics tests (hypothesis) for the mini-DSL
surfaces, checked against plain-Python models of the reference
semantics (KeyValueLineRecordReader, FieldSelectionMapReduce spec,
Unix sort -k, PipeMapRed output split)."""

import re

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from hadoop_distributed_dynamic_file_system_spark.operators import (
    fieldsel,
    sort,
    transforms,
)
from hadoop_distributed_dynamic_file_system_spark.pipe import split_output_line

# words that survive concat_ws/split round trips unambiguously
_word = st.text(alphabet="abcxyz019", min_size=1, max_size=6)
_line = st.lists(_word, min_size=1, max_size=8).map(" ".join)


class TestPipeSplitProperties:
    @given(st.lists(_word, min_size=0, max_size=6), st.integers(1, 4))
    def test_split_rejoins_to_original(self, parts, nkf):
        line = "\t".join(parts)
        k, v = split_output_line(line, "\t", nkf)
        rejoined = k + ("\t" + v if v else "")
        assert rejoined == line or (v == "" and k == line)

    @given(st.lists(_word, min_size=1, max_size=8), st.integers(1, 4))
    def test_key_has_at_most_n_fields(self, parts, nkf):
        line = "\t".join(parts)
        k, _ = split_output_line(line, "\t", nkf)
        assert len(k.split("\t")) <= max(nkf, len(parts))


def _model_kv(line: str, sep: str) -> tuple[str, str]:
    """KeyValueLineRecordReader reference model: split at FIRST sep."""
    i = line.find(sep)
    if i < 0:
        return line, ""
    return line[:i], line[i + len(sep):]


class TestKvParseProperties:
    @settings(max_examples=20, deadline=None)
    @given(st.lists(st.text(alphabet="ab\tc", min_size=0, max_size=8), min_size=1, max_size=5))
    def test_matches_reference_model(self, spark, lines):
        df = spark.createDataFrame([(l,) for l in lines], "line string")
        got = [
            (r.key, r.value)
            for r in transforms.parse_kv_line(df, "line", "\t").collect()
        ]
        want = [_model_kv(l, "\t") for l in lines]
        assert sorted(got) == sorted(want)


def _model_fieldsel(line: str, spec: str, sep: str) -> tuple[str, str]:
    """FieldSelectionMapReduce model (FieldSelectionMapReduce.java:182-249):
    key_spec:value_spec, each a comma list of indices or ranges with
    open ends; missing fields are skipped."""
    fields = line.split(sep)

    def pick(spec_part: str) -> str:
        out = []
        if not spec_part:
            return ""
        for tok in spec_part.split(","):
            if "-" in tok:
                a, b = tok.split("-")
                start = int(a) if a else 0
                end = int(b) + 1 if b else len(fields)
                out.extend(fields[start:min(end, len(fields))])
            else:
                i = int(tok)
                if i < len(fields):
                    out.append(fields[i])
        return sep.join(out)

    k_spec, _, v_spec = spec.partition(":")
    return pick(k_spec), pick(v_spec)


_fs_tok = st.one_of(
    st.integers(0, 5).map(str),
    st.tuples(st.integers(0, 3), st.integers(3, 5)).map(lambda t: f"{t[0]}-{t[1]}"),
    st.integers(0, 4).map(lambda i: f"{i}-"),
)
_fs_spec = st.tuples(
    st.lists(_fs_tok, min_size=1, max_size=3).map(",".join),
    st.lists(_fs_tok, min_size=1, max_size=3).map(",".join),
).map(lambda t: f"{t[0]}:{t[1]}")


class TestFieldSelectionProperties:
    @settings(max_examples=20, deadline=None)
    @given(
        st.lists(st.lists(_word, min_size=1, max_size=7).map("-".join),
                 min_size=1, max_size=4),
        _fs_spec,
    )
    def test_matches_reference_model(self, spark, lines, spec):
        df = spark.createDataFrame([(l,) for l in lines], "line string")
        got = sorted(
            (r.key, r.value)
            for r in fieldsel.select_fields(df, "line", spec, sep="-").collect()
        )
        want = sorted(_model_fieldsel(l, spec, "-") for l in lines)
        assert got == want


_join_ast = st.recursive(
    st.sampled_from(["a", "b", "c", "d"]).map(lambda n: ("tbl", n)),
    lambda kids: st.tuples(
        st.sampled_from(["inner", "outer", "override"]),
        st.lists(kids, min_size=2, max_size=3),
    ),
    max_leaves=6,
)


def _ast_to_expr(node) -> str:
    op, rest = node
    if op == "tbl":
        return f"tbl({rest})"
    return f"{op}({','.join(_ast_to_expr(c) for c in rest)})"


class TestJoinExprParserProperties:
    @given(_join_ast)
    def test_parse_roundtrips_ast(self, ast):
        from hadoop_distributed_dynamic_file_system_spark.operators.joins import (
            parse_join_expr,
        )

        def check(node, parsed):
            op, rest = node
            if op == "tbl":
                assert parsed.op == "tbl" and parsed.ident == rest
            else:
                assert parsed.op == op and len(parsed.children) == len(rest)
                for child, pchild in zip(rest, parsed.children):
                    check(child, pchild)

        check(ast, parse_join_expr(_ast_to_expr(ast)))


def _unix_sort_key(line: str, sep: str):
    """Model for '-k2,2nr -k1,1': numeric-desc on field 2, asc field 1."""
    fields = line.split(sep)
    f2 = fields[1] if len(fields) > 1 else ""
    m = re.match(r"^\s*(-?\d+\.?\d*)", f2)
    num = float(m.group(1)) if m else 0.0
    f1 = fields[0] if fields else ""
    return (-num, f1, line)


class TestSortSpecProperties:
    @settings(max_examples=20, deadline=None)
    @given(
        st.lists(
            st.tuples(_word, st.integers(-99, 99).map(str), _word).map(" ".join),
            min_size=1,
            max_size=8,
        )
    )
    def test_numeric_reverse_matches_model(self, spark, lines):
        df = spark.createDataFrame([(l,) for l in lines], "line string")
        out = sort.sort_by_key_spec(df, "line", "-k2,2nr -k1,1", sep=" ")
        got = [r.line for r in out.collect()]
        # model is a total order incl. the line tiebreak Spark lacks;
        # compare as multiset of (sort position by model key)
        want = sorted(lines, key=lambda l: _unix_sort_key(l, " "))
        assert [_unix_sort_key(l, " ")[:2] for l in got] == [
            _unix_sort_key(l, " ")[:2] for l in want
        ]


class TestAsofJoinModel:
    """asof_join vs pandas merge_asof (the reference model) on
    randomized data — both directions, left and inner, with and
    without key overlap."""

    def _frames(self, seed):
        import numpy as np
        import pandas as pd

        rng = np.random.RandomState(seed)
        left = pd.DataFrame(
            {"k": rng.randint(0, 5, 120), "ts": rng.randint(0, 500, 120)}
        ).drop_duplicates(["k", "ts"]).reset_index(drop=True)
        right = pd.DataFrame(
            {"k": rng.randint(0, 6, 90), "ts": rng.randint(0, 500, 90)}
        ).drop_duplicates(["k", "ts"]).reset_index(drop=True)
        right["rv"] = right.index.astype("int64")
        return left, right

    def _compare(self, spark, seed, direction):
        import pandas as pd

        from hadoop_distributed_dynamic_file_system_spark.operators import temporal

        left, right = self._frames(seed)
        expected = pd.merge_asof(
            left.sort_values("ts"),
            right.sort_values("ts"),
            on="ts", by="k", direction=direction,
        )
        want = {
            (r.k, r.ts): (None if pd.isna(r.rv) else int(r.rv))
            for r in expected.itertuples()
        }
        got_df = temporal.asof_join(
            spark.createDataFrame(left.assign(k=left.k.astype("int64"),
                                              ts=left.ts.astype("int64"))),
            spark.createDataFrame(right.assign(k=right.k.astype("int64"),
                                               ts=right.ts.astype("int64"))),
            "k", "ts", "ts", how="left", direction=direction,
        )
        got = {(r.k, r.ts): r.rv for r in got_df.collect()}
        assert got == want

    def test_backward_matches_pandas(self, spark):
        for seed in (1, 7, 23):
            self._compare(spark, seed, "backward")

    def test_forward_matches_pandas(self, spark):
        for seed in (1, 7, 23):
            self._compare(spark, seed, "forward")


def _model_upsert(batches):
    """Latest-wins reference model: fold batches in order; within and
    across batches the highest seq per key wins (ties: max() on the
    packed struct means the lexicographically-largest payload — mirror
    with max() over (seq, v))."""
    state = {}
    for batch in batches:
        for k, seq, v in batch:
            cur = state.get(k)
            if cur is None or (seq, v) > cur:
                state[k] = (seq, v)
    return state


class TestBucketedUpsertProperties:
    @settings(max_examples=5, deadline=None)
    @given(
        st.lists(
            st.lists(
                st.tuples(
                    st.integers(0, 9),          # key
                    st.integers(0, 5),          # seq
                    st.text(alphabet="xyz", min_size=1, max_size=3),
                ),
                min_size=1,
                max_size=6,
            ),
            min_size=1,
            max_size=3,
        )
    )
    def test_epochs_fold_to_latest_per_key(self, spark, tmp_path_factory, batches):
        import os

        from hadoop_distributed_dynamic_file_system_spark.streaming import (
            events as ev,
        )

        root = str(tmp_path_factory.mktemp("bkt_prop"))
        writer = ev.bucketed_upsert_writer(root, ["k"], "seq", n_buckets=3)
        for epoch, batch in enumerate(batches):
            writer(
                spark.createDataFrame(batch, "k long, seq long, v string"),
                epoch,
            )
        got = {
            r.k: (r.seq, r.v)
            for r in ev.read_bucketed_table(spark, root).collect()
        }
        assert got == _model_upsert(batches)


# ------------------------------------------------------- connected components


def _model_union_find(edges: list[tuple[int, int]]) -> dict[int, int]:
    """In-memory union-find oracle with min-id representatives — the
    reference model for connected_components (node -> min reachable)."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != x:
            parent[x], x = r, parent[x]
        return r

    nodes = set()
    for a, b in edges:
        if a == b:
            continue
        nodes.add(a)
        nodes.add(b)
        ra, rb = find(a), find(b)
        if ra != rb:
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    return {n: find(n) for n in nodes}


class TestConnectedComponentsProperties:
    """Random graphs vs the union-find model, through BOTH solve paths:
    the driver union-find (default) and the distributed contract+loop
    (driver_max_edges=0). The two paths share only the seed/contract
    prefix, so agreement on random graphs pins the whole operator."""

    @settings(max_examples=8, deadline=None)
    @given(
        st.lists(
            st.tuples(st.integers(0, 120), st.integers(0, 120)),
            min_size=1,
            max_size=200,
        )
    )
    def test_matches_union_find_both_paths(self, spark, edges):
        from hadoop_distributed_dynamic_file_system_spark import cache
        from hadoop_distributed_dynamic_file_system_spark.operators import (
            graph,
        )

        model = _model_union_find(edges)
        if not model:  # all self-loops: operator returns no rows
            return
        df = spark.createDataFrame(edges, "id_a long, id_b long")
        for dme in (1_000_000, 0):
            got = {
                r.node: r.comp
                for r in graph.connected_components(
                    df, "id_a", "id_b", driver_max_edges=dme
                ).collect()
            }
            cache.release_all()
            assert got == model, f"path driver_max_edges={dme}"

    def test_distributed_path_on_long_chain(self, spark):
        """Chain of 80 nodes through the distributed loop: after
        contraction the quotient is a ~40-node chain; pointer jumping
        must converge inside max_iter."""
        from hadoop_distributed_dynamic_file_system_spark import cache
        from hadoop_distributed_dynamic_file_system_spark.operators import (
            graph,
        )

        e = [(i, i + 1) for i in range(79)]
        df = spark.createDataFrame(e, "id_a long, id_b long")
        got = {
            r.node: r.comp
            for r in graph.connected_components(
                df, "id_a", "id_b", driver_max_edges=0
            ).collect()
        }
        cache.release_all()
        assert got == _model_union_find(e)


class TestWinnowingGuarantee:
    """The winnowing theorem (Schleimer et al. SIGMOD'03 §3): any
    match of length >= w+k-1 grams' worth of words is caught by at
    least one shared fingerprint — for ALL inputs, not fixtures."""

    @settings(max_examples=15, deadline=None)
    @given(
        st.integers(0, 10**6),
        st.integers(6, 14),   # shared run length in words (>= k+w-1 = 6)
        st.integers(0, 8),    # prefix words on doc A
        st.integers(0, 8),    # prefix words on doc B
    )
    def test_shared_run_always_shares_fp(self, spark, seed, run, pre_a, pre_b):
        import random

        from hadoop_distributed_dynamic_file_system_spark.operators import (
            textanalysis as ta,
        )

        rng = random.Random(seed)

        def w(tag, i):
            return f"{tag}{rng.randrange(1000)}x{i}"

        shared = [w("s", i) for i in range(run)]
        doc_a = " ".join([w("a", i) for i in range(pre_a)] + shared)
        doc_b = " ".join([w("b", i) for i in range(pre_b)] + shared
                         + [w("c", i) for i in range(3)])
        df = spark.createDataFrame(
            [(1, doc_a), (2, doc_b)], "doc_id long, text string"
        )
        fps = ta.winnow_fingerprints(df, "doc_id", "text", k=3, w=4).collect()
        s1 = {r.fp for r in fps if r.doc_id == 1}
        s2 = {r.fp for r in fps if r.doc_id == 2}
        assert s1 & s2, f"run={run} pre_a={pre_a} pre_b={pre_b}"


class TestSpanDedupProperty:
    """remove_duplicated_spans vs a brute-force reference model."""

    @staticmethod
    def _reference(docs, n):
        # docs: list[(id, text)] sorted by id
        words = {d: (t.split(" ") if t else [""]) for d, t in docs}
        occ = []  # (doc, start0, gram)
        for d, ws in sorted(words.items()):
            for i in range(len(ws) - n + 1):
                occ.append((d, i, tuple(ws[i : i + n])))
        first = {}
        counts = {}
        for d, i, g in occ:
            counts[g] = counts.get(g, 0) + 1
            if g not in first:
                first[g] = (d, i)
        covered = {d: set() for d, _ in docs}
        for d, i, g in occ:
            if counts[g] >= 2 and first[g] != (d, i):
                covered[d].update(range(i, i + n))
        out = {}
        for d, ws in words.items():
            kept = [w for p, w in enumerate(ws) if p not in covered[d]]
            out[d] = " ".join(kept)
        return out

    @settings(max_examples=15, deadline=None)
    @given(
        st.lists(
            st.lists(st.sampled_from("abcde"), min_size=1, max_size=12).map(
                " ".join
            ),
            min_size=1,
            max_size=6,
        ),
        st.integers(2, 4),
    )
    def test_matches_reference(self, texts, n):
        from hadoop_distributed_dynamic_file_system_spark.operators import dedup

        spark = self._spark
        docs = [(i, t) for i, t in enumerate(texts)]
        df = spark.createDataFrame(docs, "doc_id long, text string")
        got = {
            r.doc_id: r.cleaned
            for r in dedup.remove_duplicated_spans(
                df, "doc_id", "text", n=n
            ).collect()
        }
        want = self._reference(docs, n)
        assert got == want

    @pytest.fixture(autouse=True)
    def _bind_spark(self, spark):
        self._spark = spark


class TestLineDedupProperty:
    @staticmethod
    def _reference(docs):
        seen = set()
        out = {}
        for d, t in sorted(docs):
            kept = []
            for line in t.split("\n"):
                if line not in seen:
                    seen.add(line)
                    kept.append(line)
            out[d] = "\n".join(kept)
        return out

    @settings(max_examples=15, deadline=None)
    @given(
        st.lists(
            st.lists(
                st.sampled_from(["aa", "bb", "cc", "dd"]), min_size=1, max_size=5
            ).map("\n".join),
            min_size=1,
            max_size=5,
        )
    )
    def test_matches_reference(self, texts):
        from hadoop_distributed_dynamic_file_system_spark.operators import webquality

        spark = self._spark
        docs = [(i, t) for i, t in enumerate(texts)]
        df = spark.createDataFrame(docs, "doc_id long, text string")
        got = {
            r.doc_id: r.cleaned
            for r in webquality.line_dedup_global(df, "doc_id", "text").collect()
        }
        assert got == self._reference(docs)

    @pytest.fixture(autouse=True)
    def _bind_spark(self, spark):
        self._spark = spark


class TestPageRankProperties:
    """Random directed graphs (dangling nodes included) vs a dense
    numpy power iteration of the same recurrence — pins the degree
    normalization, dangling-mass redistribution, and iteration count."""

    def _numpy_pagerank(self, edges, iters, d=0.85):
        import numpy as np

        nodes = sorted({v for e in edges for v in e})
        idx = {v: i for i, v in enumerate(nodes)}
        n = len(nodes)
        outdeg = {}
        for s, _ in edges:
            outdeg[s] = outdeg.get(s, 0) + 1
        m = np.zeros((n, n))
        for s, t in edges:
            m[idx[t], idx[s]] += 1.0 / outdeg[s]
        r = np.full(n, 1.0 / n)
        dangling = np.array([outdeg.get(v, 0) == 0 for v in nodes])
        for _ in range(iters):
            dmass = r[dangling].sum()
            r = (1 - d) / n + d * (m @ r + dmass / n)
        return {v: r[idx[v]] for v in nodes}

    @settings(max_examples=6, deadline=None)
    @given(
        st.lists(
            st.tuples(st.integers(0, 40), st.integers(0, 40)),
            min_size=1,
            max_size=80,
        )
    )
    def test_matches_dense_power_iteration(self, spark, edges):
        from hadoop_distributed_dynamic_file_system_spark.operators import graph

        edges = [(a, b) for a, b in edges if a != b]
        if not edges:
            return
        df = spark.createDataFrame(edges, "src int, dst int")
        got = {
            r.node: r.rank
            for r in graph.pagerank(df, iterations=3).collect()
        }
        want = self._numpy_pagerank(edges, 3)
        assert set(got) == set(want)
        for v in want:
            assert abs(got[v] - want[v]) < 1e-9, (v, got[v], want[v])
        # mass conservation: ranks sum to 1
        assert abs(sum(got.values()) - 1.0) < 1e-9


class TestWeightedPageRank:
    def _numpy_weighted(self, edges, iters, d=0.85):
        import numpy as np

        nodes = sorted({v for s, t, _ in edges for v in (s, t)})
        idx = {v: i for i, v in enumerate(nodes)}
        n = len(nodes)
        outw = {}
        for s, _, w in edges:
            outw[s] = outw.get(s, 0.0) + w
        m = np.zeros((n, n))
        for s, t, w in edges:
            m[idx[t], idx[s]] += w / outw[s]
        r = np.full(n, 1.0 / n)
        dangling = np.array([outw.get(v, 0.0) == 0.0 for v in nodes])
        for _ in range(iters):
            dmass = r[dangling].sum()
            r = (1 - d) / n + d * (m @ r + dmass / n)
        return {v: r[idx[v]] for v in nodes}

    @settings(max_examples=5, deadline=None)
    @given(
        st.lists(
            st.tuples(
                st.integers(0, 25), st.integers(0, 25),
                st.integers(1, 9),
            ),
            min_size=1, max_size=50,
        )
    )
    def test_matches_weighted_dense_iteration(self, spark, edges):
        from hadoop_distributed_dynamic_file_system_spark.operators import graph

        edges = [(a, b, float(w)) for a, b, w in edges if a != b]
        if not edges:
            return
        df = spark.createDataFrame(edges, "src int, dst int, w double")
        got = {
            r.node: r.rank
            for r in graph.pagerank(df, iterations=3, weight="w").collect()
        }
        want = self._numpy_weighted(edges, 3)
        assert set(got) == set(want)
        for v in want:
            assert abs(got[v] - want[v]) < 1e-9, (v, got[v], want[v])

    def test_zero_weight_out_edges_become_dangling(self, spark):
        """ADVICE-r5: a node whose out-edges all weigh 0 used to leak
        its rank mass (0/0 -> NULL contributions dropped by sum while
        the node dodged the dangling set). Zero-weight edges are now
        dropped up front, routing such nodes into the dangling set —
        the mass invariant sum(rank) = 1 must hold and no rank may be
        NULL."""
        from hadoop_distributed_dynamic_file_system_spark.operators import graph

        # 2 -> 0 carries weight, 2's remaining out-edge and 0 -> 1 at
        # weight 0; node 1 has only a zero-weight out-edge
        edges = [
            (0, 1, 2.0),
            (1, 2, 0.0),
            (2, 0, 3.0),
            (2, 1, 0.0),
        ]
        df = spark.createDataFrame(edges, "src int, dst int, w double")
        rows = graph.pagerank(df, iterations=8, weight="w").collect()
        ranks = {r.node: r.rank for r in rows}
        assert set(ranks) == {0, 1, 2}
        assert all(v is not None for v in ranks.values())
        assert abs(sum(ranks.values()) - 1.0) < 1e-9

    def test_tol_converges_to_fixpoint(self, spark):
        from hadoop_distributed_dynamic_file_system_spark.operators import graph

        # small strongly-connected ring + chord: converges quickly
        edges = [(i, (i + 1) % 8) for i in range(8)] + [(0, 4), (4, 0)]
        df = spark.createDataFrame(edges, "src int, dst int")
        deep = {r.node: r.rank for r in graph.pagerank(df, iterations=60).collect()}
        conv = {r.node: r.rank
                for r in graph.pagerank(df, iterations=60, tol=1e-10).collect()}
        for v in deep:
            assert abs(deep[v] - conv[v]) < 1e-7


class TestHitsProperties:
    """Random multigraphs vs a dense numpy HITS with L1 normalization
    — pins the half-step order (auth from hub, then hub from the NEW
    auth), the normalization, and multigraph multiplicity."""

    def _numpy_hits(self, edges, iters):
        import numpy as np

        nodes = sorted({v for e in edges for v in e})
        idx = {v: i for i, v in enumerate(nodes)}
        n = len(nodes)
        a = np.zeros((n, n))  # a[dst, src] = multiplicity
        for s, t in edges:
            a[idx[t], idx[s]] += 1.0
        hub = np.full(n, 1.0 / n)
        auth = None
        for _ in range(iters):
            auth = a @ hub
            auth = auth / auth.sum()
            hub = a.T @ auth
            hub = hub / hub.sum()
        return {v: (auth[idx[v]], hub[idx[v]]) for v in nodes}

    @settings(max_examples=5, deadline=None)
    @given(
        st.lists(
            st.tuples(st.integers(0, 25), st.integers(0, 25)),
            min_size=1,
            max_size=60,
        )
    )
    def test_matches_dense_hits(self, spark, edges):
        from hadoop_distributed_dynamic_file_system_spark.operators import graph

        edges = [(a, b) for a, b in edges if a != b]
        if not edges:
            return
        df = spark.createDataFrame(edges, "src int, dst int")
        got = {
            r.node: (r.authority, r.hub)
            for r in graph.hits(df, iterations=3).collect()
        }
        want = self._numpy_hits(edges, 3)
        assert set(got) == set(want)
        for v in want:
            assert abs(got[v][0] - want[v][0]) < 1e-9
            assert abs(got[v][1] - want[v][1]) < 1e-9
        # both score vectors are distributions
        assert abs(sum(g[0] for g in got.values()) - 1.0) < 1e-9
        assert abs(sum(g[1] for g in got.values()) - 1.0) < 1e-9

    def test_pure_hub_and_authority_split(self, spark):
        from hadoop_distributed_dynamic_file_system_spark.operators import graph

        # star: 0 -> {1,2,3}; node 0 is a pure hub, 1-3 pure authorities
        df = spark.createDataFrame(
            [(0, 1), (0, 2), (0, 3)], "src int, dst int"
        )
        got = {r.node: r for r in graph.hits(df, iterations=2).collect()}
        assert got[0].hub == pytest.approx(1.0)
        assert got[0].authority == 0.0
        for v in (1, 2, 3):
            assert got[v].authority == pytest.approx(1 / 3)
            assert got[v].hub == 0.0


class TestWebtextProperties:
    """normalize_url idempotence and robots gating vs a Python model
    over randomized inputs — the per-record crawl transforms must be
    fixpoints/pure functions of their inputs."""

    @settings(max_examples=10, deadline=None)
    @given(
        st.builds(
            lambda scheme, host, port, path, q, frag: (
                f"{scheme}://{host}{port}{path}{q}{frag}"
            ),
            st.sampled_from(["http", "HTTP", "https", "HTTPS", "Ftp"]),
            st.from_regex(r"[A-Za-z][A-Za-z0-9.-]{0,20}", fullmatch=True),
            st.sampled_from(["", ":80", ":443", ":8080"]),
            st.sampled_from(["", "/", "/A/b", "/x%41"]),
            st.sampled_from(["", "?", "?q=1", "?Q=a&b=2"]),
            st.sampled_from(["", "#f", "#A b"]),
        )
    )
    def test_normalize_url_idempotent(self, spark, url):
        from hadoop_distributed_dynamic_file_system_spark.operators import (
            webtext as W,
        )

        df = spark.createDataFrame([(url,)], ["u"])
        once, twice = df.select(
            W.normalize_url("u").alias("a"),
            W.normalize_url(W.normalize_url("u")).alias("b"),
        ).first()
        assert once == twice, (url, once, twice)

    @settings(max_examples=8, deadline=None)
    @given(
        st.lists(
            st.sampled_from(["/a/", "/priv/", "/tmp/", "/x", ""]),
            min_size=0, max_size=4,
        ),
        st.sampled_from(["/a/1", "/priv/2", "/tmp/f", "/x", "/y", "/"]),
    )
    def test_url_allowed_matches_python_model(self, spark, prefixes, path):
        from hadoop_distributed_dynamic_file_system_spark.operators import (
            webtext as W,
        )

        from pyspark.sql import functions as sf

        df = spark.createDataFrame(
            [(path, prefixes)], "p string, pre array<string>"
        )
        got = df.select(
            W.url_allowed("p", sf.col("pre")).alias("v")
        ).first().v
        # '' prefix-matches everything in startswith; production feeds
        # url_allowed the already-''-filtered robots prefix list, and
        # the operator mirrors plain startswith semantics
        want = not any(path.startswith(pre) for pre in prefixes)
        assert got == want, (path, prefixes, got, want)


class TestJpegCodecProperties:
    """Property pins for the pure-numpy baseline JPEG codec: any
    small RGB image must survive an encode/decode roundtrip within
    quantization tolerance, at every sampling/restart combination.
    (Model-free: the property IS the tolerance bound — JPEG q95
    luminance error is bounded by the quant table's DC step.)"""

    @given(
        h=st.integers(min_value=1, max_value=24),
        w=st.integers(min_value=1, max_value=24),
        seed=st.integers(min_value=0, max_value=2**31 - 1),
        sub=st.sampled_from([False, True, "422"]),
        dri=st.sampled_from([0, 1, 3]),
    )
    @settings(max_examples=25, deadline=None)
    def test_roundtrip_bounded_error(self, h, w, seed, sub, dri):
        import numpy as np

        from hadoop_distributed_dynamic_file_system_spark.operators import (
            multimodal as mm,
        )

        rng = np.random.default_rng(seed)
        # piecewise-smooth image: random 4x4 blocks upsampled (JPEG's
        # tolerance contract is for natural images, not white noise;
        # noise error is bounded too but with a looser constant)
        small = rng.integers(0, 256, ((h + 3) // 4, (w + 3) // 4, 3))
        img = np.repeat(np.repeat(small, 4, axis=0), 4, axis=1)[
            :h, :w, :
        ].astype(np.uint8)
        back = mm.jpeg_pixels(
            mm.make_jpeg(img, quality=95, subsample=sub,
                         restart_interval=dri)
        )
        assert back.shape == img.shape
        err = np.abs(back.astype(int) - img.astype(int))
        # luminance is reconstructed tightly; chroma subsampling may
        # smear block edges — bound mean tightly, max loosely
        assert err.mean() <= 6.0, (h, w, sub, dri, err.mean())
        assert err.max() <= 160, (h, w, sub, dri, err.max())


class TestBandedHammingCompleteness:
    """Pigeonhole completeness of the disjoint-band hamming join
    (Norouzi CVPR'12) against the brute-force O(n²) model — for
    RANDOM bit widths, band counts, and codes, not fixtures. This is
    the property the uneven-width split (bits % n_bands != 0) and the
    sign-bit band (bit 63 lives in the top band; shiftright is
    arithmetic on longs) could silently break."""

    @settings(max_examples=10, deadline=None)
    @given(st.data())
    def test_matches_brute_force(self, spark, data):
        from hadoop_distributed_dynamic_file_system_spark import cache
        from hadoop_distributed_dynamic_file_system_spark.operators import (
            dedup,
        )

        bits = data.draw(st.sampled_from([16, 24, 60, 64]))
        max_h = data.draw(st.integers(1, 4))
        n_bands = data.draw(st.integers(max_h + 1, max_h + 3))

        def sgn(v):
            return v - (1 << 64) if v >= 1 << 63 else v

        # cluster the draws so pairs within radius actually occur:
        # a few base codes, each with noisy copies at small hamming
        bases = data.draw(
            st.lists(st.integers(0, (1 << bits) - 1), min_size=1, max_size=4)
        )
        rows = []
        for i, b in enumerate(bases):
            rows.append((len(rows), b))
            for _ in range(data.draw(st.integers(1, 4))):
                flips = data.draw(
                    st.lists(
                        st.integers(0, bits - 1),
                        min_size=0, max_size=max_h + 1, unique=True,
                    )
                )
                v = b
                for f in flips:
                    v ^= 1 << f
                rows.append((len(rows), v))
        model = {
            (a_id, b_id, bin(a_v ^ b_v).count("1"))
            for ai, (a_id, a_v) in enumerate(rows)
            for b_id, b_v in rows[ai + 1:]
            if bin(a_v ^ b_v).count("1") <= max_h
        }
        df = spark.createDataFrame(
            [(i, sgn(v)) for i, v in rows], "doc_id long, code long"
        )
        got = {
            (r.id_a, r.id_b, r.hamming)
            for r in dedup.banded_hamming_pairs(
                df, "doc_id", "code",
                max_hamming=max_h, n_bands=n_bands, bits=bits,
            ).collect()
        }
        cache.release_all()
        assert got == model, (bits, max_h, n_bands)


class TestIndexHealthProperties:
    """tombstones.health vs a brute-force model: for ANY retraction
    set (incl. empty, full, and ids absent from the index), every
    scalar of the census must equal a recount over the frozen table's
    actual rows. The fixture corpus plants near-twin pairs so band
    keys are genuinely shared and live_keys/max_key_docs exercise the
    holder-count semantics, not just per-doc rows."""

    TABLE = "t_health_prop"

    @pytest.fixture(scope="class")
    def frozen_rows(self, spark):
        import shutil

        from hadoop_distributed_dynamic_file_system_spark.operators import (
            dedup,
        )

        for x in (self.TABLE, self.TABLE + "__tombstones"):
            spark.sql(f"DROP TABLE IF EXISTS {x}")
            shutil.rmtree(f"spark-warehouse/{x}", ignore_errors=True)
        docs = []
        for i in range(20):
            if i % 2 == 1:
                # near-twin of i-1: first word dropped -> shared bands
                base = docs[-1][1]
                docs.append((i, base.split(" ", 1)[1]))
            else:
                docs.append((
                    i,
                    f"alpha{i} bravo{i % 3} charlie delta echo{i % 5} "
                    f"foxtrot golf hotel india{i % 7} juliet kilo",
                ))
        corpus = spark.createDataFrame(docs, "doc_id long, text string")
        dedup.freeze_band_index_attributed(
            corpus, "doc_id", "text", self.TABLE, num_buckets=8
        )
        rows = [
            (r.bk, r.doc_id) for r in spark.table(self.TABLE).collect()
        ]
        assert rows
        yield rows
        for x in (self.TABLE, self.TABLE + "__tombstones"):
            spark.sql(f"DROP TABLE IF EXISTS {x}")
        spark.catalog.clearCache()

    @settings(max_examples=8, deadline=None)
    @given(retract=st.sets(st.integers(0, 25), max_size=26))
    def test_census_matches_model(self, spark, frozen_rows, retract):
        from collections import Counter

        from hadoop_distributed_dynamic_file_system_spark.operators import (
            dedup, tombstones,
        )

        tombstones.drop(spark, self.TABLE)
        if retract:
            dedup.retract_from_band_index(
                spark, self.TABLE,
                spark.createDataFrame(
                    [(i,) for i in sorted(retract)], "doc_id long"
                ),
                "doc_id",
            )
        h = dedup.band_index_health(spark, self.TABLE, "doc_id").collect()[0]
        live = [(bk, d) for bk, d in frozen_rows if d not in retract]
        index_rows = len(frozen_rows)
        dead_rows = index_rows - len(live)
        key_counts = Counter(bk for bk, _ in live)
        assert (
            h.index_rows, h.dead_rows, h.live_rows, h.live_docs,
            h.retracted_docs, h.live_keys, h.max_key_docs,
        ) == (
            index_rows, dead_rows, len(live),
            len({d for _, d in live}), len(retract),
            len(key_counts),
            max(key_counts.values()) if key_counts else 0,
        ), sorted(retract)
        assert abs(h.dead_frac - dead_rows / index_rows) < 1e-6
        assert h.recommend_compact is (dead_rows / index_rows >= 0.2)


class TestMaintenanceActorProperties:
    """maintain_index vs a brute-force decision model: for ANY
    retraction set and ANY threshold, the dry-run tick must report
    exactly what the census recommends (would_compact iff the live
    recount's dead fraction clears the threshold) and must leave the
    index and its tombstones untouched. The fold itself is pinned
    deterministically in tests/test_maintenance.py; this property
    pins the DECISION boundary the daemon acts on."""

    TABLE = "t_maint_prop"

    @pytest.fixture(scope="class")
    def frozen_rows(self, spark):
        import shutil

        from hadoop_distributed_dynamic_file_system_spark.operators import (
            dedup,
        )

        for x in (self.TABLE, self.TABLE + "__tombstones"):
            spark.sql(f"DROP TABLE IF EXISTS {x}")
            shutil.rmtree(f"spark-warehouse/{x}", ignore_errors=True)
        docs = []
        for i in range(20):
            if i % 2 == 1:
                base = docs[-1][1]
                docs.append((i, base.split(" ", 1)[1]))
            else:
                docs.append((
                    i,
                    f"alpha{i} bravo{i % 3} charlie delta echo{i % 5} "
                    f"foxtrot golf hotel india{i % 7} juliet kilo",
                ))
        corpus = spark.createDataFrame(docs, "doc_id long, text string")
        dedup.freeze_band_index_attributed(
            corpus, "doc_id", "text", self.TABLE, num_buckets=8
        )
        rows = [
            (r.bk, r.doc_id) for r in spark.table(self.TABLE).collect()
        ]
        assert rows
        yield rows
        for x in (self.TABLE, self.TABLE + "__tombstones"):
            spark.sql(f"DROP TABLE IF EXISTS {x}")
        spark.catalog.clearCache()

    @settings(max_examples=8, deadline=None)
    @given(
        retract=st.sets(st.integers(0, 25), max_size=26),
        thr=st.sampled_from([0.05, 0.2, 0.5, 0.9, 1.0]),
    )
    def test_dry_run_decision_matches_model(
        self, spark, frozen_rows, retract, thr
    ):
        from hadoop_distributed_dynamic_file_system_spark.operators import (
            dedup, maintenance, tombstones,
        )

        tombstones.drop(spark, self.TABLE)
        if retract:
            dedup.retract_from_band_index(
                spark, self.TABLE,
                spark.createDataFrame(
                    [(i,) for i in sorted(retract)], "doc_id long"
                ),
                "doc_id",
            )
        rec = maintenance.maintain_index(
            spark, self.TABLE, "band",
            compact_threshold=thr, dry_run=True,
        )
        index_rows = len(frozen_rows)
        dead_rows = sum(1 for _, d in frozen_rows if d in retract)
        fire = dead_rows / index_rows >= thr
        assert rec["action"] == ("would_compact" if fire else "healthy"), (
            sorted(retract), thr,
        )
        assert rec["dead_rows"] == dead_rows
        # dry-run acted on NOTHING: base row count intact, tombstone
        # table present exactly when a retraction was filed
        assert spark.table(self.TABLE).count() == index_rows
        assert spark.catalog.tableExists(
            self.TABLE + "__tombstones"
        ) is bool(retract)
