"""Property-based tests (hypothesis) for the pure-Python compat
translators — these are the hand-written mini-language parsers where
edge-case bugs would silently corrupt query results."""

from __future__ import annotations

from datetime import datetime, timedelta, timezone

from hypothesis import given, settings
from hypothesis import strategies as st

from exosql_spark.functions.datetime_compat import parse_duration, strftime_to_java
from exosql_spark.functions.json_compat import jp_to_jsonpath

# -- strftime translation ---------------------------------------------

_TOKENS = ["%Y", "%m", "%d", "%H", "%M", "%S", "%y", "%j", "%a", "%A", "%b", "%B"]
_SAFE_LITERALS = st.text(
    alphabet=" -_/.:,;()[]0123456789", min_size=0, max_size=5
)


@st.composite
def strftime_patterns(draw):
    parts = draw(
        st.lists(
            st.one_of(st.sampled_from(_TOKENS), _SAFE_LITERALS),
            min_size=1,
            max_size=6,
        )
    )
    # adjacent tokens mapping to the same Java letter merge into one
    # longer field (documented translator limitation) — separate them
    # (empty literals are dropped first: they'd hide the adjacency)
    out: list[str] = []
    for p in (x for x in parts if x != ""):
        if (
            out
            and p in _TOKENS
            and out[-1] in _TOKENS
            and strftime_to_java(p)[0] == strftime_to_java(out[-1])[-1]
        ):
            out.append("-")
        out.append(p)
    return "".join(out)


@given(strftime_patterns(), st.datetimes(
    min_value=datetime(1971, 1, 1), max_value=datetime(2037, 12, 31)
))
@settings(max_examples=200, deadline=None)
def test_strftime_java_pattern_matches_c_semantics(fmt, dt):
    """The Java translation must format identically to C strftime for
    every token combination (checked via Python's strftime as the C
    reference, formatted through a JVM-free reimplementation of the
    Java pattern on the Python side is impossible — so instead assert
    structural invariants + spot semantics):

    - translation is deterministic and total (no crash);
    - every % token was consumed (no bare '%X' left except quoted);
    - literal letters are quoted (would otherwise be Java patterns).
    """
    java = strftime_to_java(fmt)
    assert "%" not in java.replace("'%'", "")
    # no unquoted alphabetic literal leaks: strip translated tokens and
    # quoted sections; what remains must be non-alphabetic
    rest = java
    for tok in (
        "yyyy", "yy", "MMMM", "MMM", "MM", "dd", "HH", "mm", "ss", "DDD",
        "EEEE", "EEE",
    ):
        rest = rest.replace(tok, "\x00")
    import re

    rest = re.sub(r"'[^']*'", "", rest)
    assert not re.search(r"[A-Za-z]", rest), (fmt, java, rest)


@given(st.datetimes(min_value=datetime(1971, 1, 1), max_value=datetime(2037, 12, 31)))
@settings(max_examples=50, deadline=None)
def test_strftime_roundtrip_via_python(dt):
    """For the core date pattern the C-reference output must be
    recoverable: %Y-%m-%d formatting then parsing is identity on the
    date part (sanity that token mapping is not shifted)."""
    s = dt.strftime("%Y-%m-%d")
    java = strftime_to_java("%Y-%m-%d")
    assert java == "yyyy-MM-dd"
    assert datetime.strptime(s, "%Y-%m-%d").date() == dt.date()


# -- duration grammar -------------------------------------------------

_UNITS = ["Y", "M", "w", "d", "D", "h", "m", "s"]


@st.composite
def durations(draw):
    n = draw(st.integers(min_value=1, max_value=4))
    parts = [
        f"{draw(st.integers(min_value=0, max_value=9999))}{draw(st.sampled_from(_UNITS))}"
        for _ in range(n)
    ]
    sign = draw(st.sampled_from(["", "-", "+"]))
    return sign + " ".join(parts)


@given(durations())
@settings(max_examples=200, deadline=None)
def test_duration_parse_total_and_signed(s):
    u = parse_duration(s)
    assert set(u) == set("YMwdhms")
    if s.startswith("-"):
        assert all(v <= 0 for v in u.values())
    else:
        assert all(v >= 0 for v in u.values())


@given(st.integers(min_value=0, max_value=9999), st.sampled_from(_UNITS))
def test_duration_single_unit_value(n, unit):
    u = parse_duration(f"{n}{unit}")
    canon = {"D": "d"}.get(unit, unit)
    assert u[canon] == n
    assert sum(abs(v) for k, v in u.items() if k != canon) == 0


@given(st.text(alphabet="abcxyz!@# ", min_size=1, max_size=8))
def test_duration_garbage_rejected(s):
    import pytest

    if not any(c.isdigit() for c in s):
        with pytest.raises(ValueError):
            parse_duration(s)


# -- JSON pointer -----------------------------------------------------


@st.composite
def pointers(draw):
    segs = draw(
        st.lists(
            st.one_of(
                st.text(alphabet="abcdefKEY_", min_size=1, max_size=8),
                st.integers(min_value=0, max_value=99).map(str),
            ),
            min_size=0,
            max_size=5,
        )
    )
    return "/" + "/".join(segs) if segs else "/"


@given(pointers())
@settings(max_examples=200, deadline=None)
def test_jp_translation_structure(p):
    path = jp_to_jsonpath(p)
    assert path.startswith("$")
    segs = [s for s in p.strip("/").split("/") if s]
    # digit segments become [n], others .name — counts must add up
    assert path.count("[") == sum(s.isdigit() for s in segs)
    assert path.count(".") == sum(not s.isdigit() for s in segs)


@given(pointers(), st.dictionaries(
    st.text(alphabet="abcdefKEY_", min_size=1, max_size=8),
    st.integers(),
    max_size=5,
))
@settings(max_examples=100, deadline=None)
def test_jp_semantics_against_python(p, obj):
    """Navigate a real dict with the pointer; duckdb-compatible JsonPath
    must reach the same value (checked with a tiny evaluator)."""
    import json

    segs = [s for s in p.strip("/").split("/") if s]
    cur = obj
    for s in segs:
        if isinstance(cur, dict) and s in cur:
            cur = cur[s]
        elif isinstance(cur, list) and s.isdigit() and int(s) < len(cur):
            cur = cur[int(s)]
        else:
            cur = None
            break
    path = jp_to_jsonpath(p)
    # evaluate the produced JsonPath with the same rules
    cur2 = obj
    for m in __import__("re").finditer(r"\.([^.\[\]]+)|\[(\d+)\]", path):
        key, idx = m.group(1), m.group(2)
        if key is not None:
            cur2 = cur2.get(key) if isinstance(cur2, dict) else None
        else:
            i = int(idx)
            cur2 = cur2[i] if isinstance(cur2, list) and i < len(cur2) else None
        if cur2 is None:
            break
    assert cur == cur2


# --------------------------------------------------------------------
# Dialect literal masking — the rewriter must never touch string
# literals, and mask/unmask must round-trip any input exactly.
# --------------------------------------------------------------------

from exosql_spark import dialect


@given(st.text(alphabet="abc'$. \\dSELECTxyz09_\"", min_size=0, max_size=60))
def test_mask_unmask_roundtrip(sql):
    masked, lits = dialect.mask_literals(sql)
    assert dialect.unmask_literals(masked, lits) == sql


@given(st.text(alphabet="abcdefgh xyz,.()", min_size=0, max_size=30))
def test_masked_text_replaces_whole_literal(inner):
    # the quoted span is lifted verbatim into lits and replaced by a
    # control-char placeholder the regex passes can't match into
    sql = f"SELECT '{inner}' AS c FROM t"
    masked, lits = dialect.mask_literals(sql)
    assert f"'{inner}'" in lits
    assert "'" not in masked and "\x00" in masked


@given(st.integers(min_value=0, max_value=7), st.integers(min_value=1, max_value=9))
def test_rewrite_preserves_literal_dots(a, b):
    # a db.table-looking string INSIDE a literal must survive rewriting
    lit = f"visit db{a}.events{b} now"
    sql = f"SELECT '{lit}' AS note FROM tbl"
    out = dialect.rewrite(sql)[0]
    assert lit in out


@st.composite
def _quoted_literals(draw):
    q = draw(st.sampled_from(["'", '"']))
    inner = draw(st.text(alphabet="ab $.,()%-/*\\'\"qualifyselectFROMwithON", max_size=12))
    return q + inner.replace("\\", "\\\\").replace(q, q + q) + q


@st.composite
def _composed_queries(draw):
    """A query mixing every rewrite with literal arguments; returns the
    SQL and the literals that no rewrite consumes."""
    lits = [draw(_quoted_literals()) for _ in range(7)]
    on = draw(st.sampled_from(["", "DISTINCT ON (k) "]))
    star = draw(st.sampled_from(["a", "* EXCLUDE (z)", "t.* exclude(z)"]))
    sql = (
        f"SELECT {on}{star}, strftime({lits[0]}, '%Y %s') AS y, "
        f"jp({lits[1]}, '/a/0') AS j, to_datetime({lits[2]}, '-1d') AS d, "
        f"concat({lits[3]}, $v, $$) AS c FROM db.t WHERE x = {lits[4]}"
    )
    if draw(st.booleans()):
        sql += f" QUALIFY row_number() OVER (ORDER BY {lits[5]}) = 1"
    sql += " ORDER BY k LIMIT 5"
    if draw(st.booleans()):
        sql = f"WITH cte AS (SELECT {lits[6]} AS s FROM db.u) {sql}"
    return sql, lits


@settings(max_examples=300, deadline=None)
@given(_composed_queries())
def test_rewrite_keeps_every_literal_verbatim(case):
    # one masking pass covers db.table, $var, the function rewrites and
    # the EXCLUDE / QUALIFY / DISTINCT ON desugars: every literal comes
    # out exactly as it went in, at least as often
    sql, lits = case
    out, refs = dialect.rewrite(sql, {"db": lambda: ["t", "u"]})
    for lit in lits:
        assert out.count(lit) >= sql.count(lit), (lit, out)
    assert ("db", "t") in refs


class TestRound12Properties:
    def test_merge_pair_matches_serial_on_random_arrays(self, spark):
        """200 random token arrays x random target pair, one Spark job:
        the fold rewrite must equal the serial left-to-right
        non-overlapping rewrite on every case."""
        import random

        from pyspark.sql import functions as F

        from exosql_spark.operators.bpe import merge_pair

        rng = random.Random(42)
        alpha = ["a", "b", "c"]
        cases = []
        for i in range(200):
            arr = [rng.choice(alpha) for _ in range(rng.randrange(0, 12))]
            l, r = rng.choice(alpha), rng.choice(alpha)
            cases.append((i, arr, l, r))

        def serial(w, l, r):
            out, i = [], 0
            while i < len(w):
                if i + 1 < len(w) and w[i] == l and w[i + 1] == r:
                    out.append(w[i] + w[i + 1]); i += 2
                else:
                    out.append(w[i]); i += 1
            return out

        df = spark.createDataFrame(
            [(i, arr, l, r) for i, arr, l, r in cases],
            "id long, t array<string>, l string, r string",
        )
        # pair differs per row: group cases by (l, r) and apply per group
        got = {}
        for (l, r) in {(c[2], c[3]) for c in cases}:
            part = df.filter((F.col("l") == l) & (F.col("r") == r))
            for row in part.select("id", merge_pair(F.col("t"), l, r).alias("m")).collect():
                got[row.id] = row.m
        for i, arr, l, r in cases:
            assert got[i] == serial(arr, l, r), (arr, l, r, got[i])

    def test_zorder_key_bits_roundtrip(self, spark):
        """The interleaved key must decode back to exactly (x, y) for
        every grid point — a single wrong bit position cannot survive
        this."""
        from pyspark.sql import functions as F

        from exosql_spark.sinks import zorder_key

        df = spark.range(4096).select(
            (F.col("id") % 64).alias("x"), (F.col("id") / 64).cast("long").alias("y")
        )
        k = zorder_key([F.col("x"), F.col("y")], bits=6)
        xdec = sum(
            F.shiftleft(F.shiftright(k, 2 * b).bitwiseAND(F.lit(1)), b)
            for b in range(6)
        )
        ydec = sum(
            F.shiftleft(F.shiftright(k, 2 * b + 1).bitwiseAND(F.lit(1)), b)
            for b in range(6)
        )
        bad = df.select(
            ((xdec != F.col("x")) | (ydec != F.col("y"))).alias("bad")
        ).filter("bad").count()
        assert bad == 0


class TestRound14Properties:
    def test_triangles_match_bruteforce_on_random_graphs(self, spark):
        """Erdős–Rényi-ish random graphs (several densities, with
        self-loops and duplicate/reversed edges injected): the
        degree-ordered-orientation triangle set must equal the O(n^3)
        brute-force set on every graph."""
        import itertools
        import random
        from collections import defaultdict

        from exosql_spark.operators.graph import triangles

        rng = random.Random(1914)
        for trial, (n, p) in enumerate(
            [(8, 0.3), (10, 0.5), (12, 0.25), (7, 0.9)]
        ):
            edges = []
            for u, v in itertools.combinations(range(n), 2):
                if rng.random() < p:
                    edges.append((u, v))
                    if rng.random() < 0.3:
                        edges.append((v, u))  # reversed duplicate
            edges += [(i, i) for i in range(0, n, 3)]  # self-loops
            if not edges:
                continue
            df = spark.createDataFrame(edges, "src long, dst long")
            got = sorted(
                tuple(sorted((r.x, r.y, r.z)))
                for r in triangles(df).collect()
            )
            assert len(got) == len(set(got)), f"trial {trial}: dup triangle"
            adj = defaultdict(set)
            for u, v in edges:
                if u != v:
                    adj[u].add(v)
                    adj[v].add(u)
            want = sorted(
                (a, b, c)
                for a, b, c in itertools.combinations(sorted(adj), 3)
                if b in adj[a] and c in adj[a] and c in adj[b]
            )
            assert got == want, f"trial {trial}"

    def test_hits_matches_replay_on_random_digraph(self, spark):
        """Random directed graph: hits() equals the pure-Python
        L1-normalized power iteration to 1e-12 at several iteration
        counts (including 0 = uniform init)."""
        import random
        from collections import defaultdict

        from exosql_spark.operators.graph import hits

        rng = random.Random(77)
        n = 9
        E = list(
            {
                (rng.randrange(n), rng.randrange(n))
                for _ in range(30)
            }
        )
        E = [(u, v) for u, v in E if u != v]
        g = spark.createDataFrame(E, "src long, dst long")
        verts = sorted({u for u, _ in E} | {v for _, v in E})

        def replay(iters):
            h = {v: 1.0 / len(verts) for v in verts}
            a = dict(h)
            for _ in range(iters):
                a_raw = defaultdict(float)
                for u, v in E:
                    a_raw[v] += h[u]
                s = sum(a_raw.values())
                a = {v: (a_raw[v] / s if s else 0.0) for v in verts}
                h_raw = defaultdict(float)
                for u, v in E:
                    h_raw[u] += a[v]
                s = sum(h_raw.values())
                h = {v: (h_raw[v] / s if s else 0.0) for v in verts}
            return h, a

        for iters in (0, 1, 5):
            got = {
                r.id: (r.hub, r.auth)
                for r in hits(g, n_iter=iters).collect()
            }
            h, a = replay(iters)
            assert set(got) == set(verts)
            for v in verts:
                assert abs(got[v][0] - h[v]) < 1e-12, (iters, v)
                assert abs(got[v][1] - a[v]) < 1e-12, (iters, v)
