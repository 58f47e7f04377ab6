"""Pure-Python guarantees of tools/gen_scaled.py — the derived
scale-point generator. These properties are load-bearing for the
scaling measurements in BENCH_SCALING.json: a collision in any of the
three per-replica schemes silently changes the corpus's duplicate
density and the measured ratios stop meaning what SCALE.md says they
mean (both collision classes were actually hit and fixed during
round 8: vowel-rotation period 5 at factor 10, and an MDS/Hamming tag
code whose LEVENSHTEIN distance was only 2)."""

from __future__ import annotations

import importlib.util
import os


def _load_gen_scaled():
    path = os.path.join(
        os.path.dirname(os.path.dirname(__file__)), "tools", "gen_scaled.py"
    )
    spec = importlib.util.spec_from_file_location("gen_scaled", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class TestScaledGenerator:
    def test_tags_pairwise_levenshtein_at_least_4(self):
        """≥ 4 (raised from ≥ 3 in round 9): distance EXACTLY 3 made
        every same-name cross-replica pair a true match for the q-gram
        k=3 fuzzy join, polluting its scaled-point measurement — the
        code must clear every catalog fuzzy threshold (k ≤ 3)."""
        gs = _load_gen_scaled()
        tags = gs._TAGS
        assert len(tags) >= 110 and len(set(tags)) == len(tags)
        bad = [
            (a, b)
            for i, a in enumerate(tags)
            for b in tags[i + 1 :]
            if gs._lev(a, b) < 4
        ]
        assert not bad, bad[:5]

    def test_text_transforms_distinct_for_125_replicas(self):
        # the transform is a charwise substitution; its action on the
        # cycled alphabet determines it completely
        gs = _load_gen_scaled()
        probe = "aeiou bcdfg lmnpr"

        def apply(i: int) -> str:
            # mirror _rot_vowels' translate tables in pure python
            def cyc(alpha, power):
                p = power % len(alpha)
                return alpha[p:] + alpha[:p]

            src = "aeiou" + "bcdfg" + "lmnpr"
            dst = cyc("aeiou", i) + cyc("bcdfg", i // 5) + cyc("lmnpr", i // 25)
            return probe.translate(str.maketrans(src, dst)) if i else probe

        outs = [apply(i) for i in range(125)]
        assert len(set(outs)) == 125

    def test_embedding_masks_distinct_below_143(self):
        def mask(i: int) -> tuple:
            return tuple(
                (((i * 7 + j) % 11) < 5) != (((i * 5 + j) % 13) < 6)
                for j in range(64)
            )

        masks = [mask(i) for i in range(1, 143)]
        assert len(set(masks)) == len(masks)


class TestArtifactDrift:
    """Mechanical doc/artifact drift guards (round-8 verdict Next #3/#8):
    a stale superlinear row in BENCH_SCALING's headline table, or a
    renamed catalog entry silently orphaning a COVERAGE.md row, reads
    as wrong evidence to anyone scanning the artifacts."""

    def _repo(self, *parts):
        return os.path.join(os.path.dirname(os.path.dirname(__file__)), *parts)

    def test_scaling_table_agrees_with_ppjoin_note(self):
        """The headline dedup_jaccard_exact_pairs row must BE the
        post-PPJoin run recorded in the note — the r8 table shipped the
        pre-filter (already-fixed) scale-killer numbers."""
        import json

        with open(self._repo("BENCH_SCALING.json")) as f:
            d = json.load(f)
        row = d["queries"]["dedup_jaccard_exact_pairs"]
        note = d["jaccard_ppjoin_note"]["post_filter_sec"]
        assert row["sf0.1_sec"] == note["sf0.1"]
        assert row["sf1_sec"] == note["sf1"]
        assert row["sf10_sec"] == note["sf10"]
        # and the fix's point: top-decade exponent is linear-ish
        assert row["exponent_top_decade"] <= 1.1

    def test_scaling_table_agrees_with_semdedup_note(self):
        """The semdedup auto-k note's table_row_sec is mechanical data
        from the same sweep as the table — prose numbers went stale
        once (the r9 note carried a previous sweep's row); the field +
        this assert keep them from ever disagreeing again."""
        import json

        with open(self._repo("BENCH_SCALING.json")) as f:
            d = json.load(f)
        row = d["queries"]["dedup_semantic"]
        note = d["semdedup_autok_note"]["table_row_sec"]
        assert row["sf0.1_sec"] == note["sf0.1"]
        assert row["sf1_sec"] == note["sf1"]
        assert row["sf10_sec"] == note["sf10"]
        # prose must not embed this sweep's row numbers (they rot)
        assert "table_row_sec" in d["semdedup_autok_note"]["read"]

    def test_scaling_totals_are_column_sums(self):
        """totals must equal the sum of the per-query rows (excluded
        entries aside) — a refreshed row with stale totals misstates
        the headline curve."""
        import json

        with open(self._repo("BENCH_SCALING.json")) as f:
            d = json.load(f)
        for sf_key, row_key in (
            ("sf0.1", "sf0.1_sec"), ("sf1", "sf1_sec"), ("sf10", "sf10_sec")
        ):
            colsum = sum(
                row[row_key] for row in d["queries"].values() if row_key in row
            )
            assert abs(colsum - d["totals"][sf_key]) < 0.05, (sf_key, colsum)

    def test_coverage_md_entry_names_exist(self):
        """Every catalog entry COVERAGE.md cites by name after an
        'oracle:' / 'rows-only:' marker must exist in the registry —
        a rename would otherwise orphan the coverage row silently."""
        import re

        from exosql_spark.catalog import all_queries

        qs = all_queries()
        with open(self._repo("COVERAGE.md")) as f:
            text = f.read()
        cited = set()
        for seg in re.findall(r"(?:oracle|rows-only):([^|;\n]*)", text):
            cited.update(re.findall(r"`([a-z0-9_]+)`", seg))
        missing = sorted(n for n in cited if n not in qs)
        assert not missing, missing
        assert len(cited) >= 60  # the map really does cite the catalog


class TestVerifyWindow:
    """Round-10 mechanization (r9 verdict Next #3): the driver-verify
    window is computed from FRESHNESS.json, which is itself a pure
    fold of the CORRECTNESS artifacts — so the freshness bound is a
    number the code enforces, not prose arithmetic."""

    def _repo(self, *parts):
        return os.path.join(os.path.dirname(os.path.dirname(__file__)), *parts)

    def _gen_freshness(self):
        spec = importlib.util.spec_from_file_location(
            "gen_freshness", self._repo("tools", "gen_freshness.py")
        )
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        return mod

    def test_checked_in_freshness_matches_fold(self):
        """A new CORRECTNESS artifact without a regenerated
        FRESHNESS.json would silently freeze the rotation.  Only the
        FOLD keys are pinned: the r12 "fingerprints" block is
        DELIBERATELY allowed to go stale mid-round — a stale
        fingerprint is how a changed entry fronts the next window."""
        import json

        with open(self._repo("FRESHNESS.json")) as f:
            checked_in = json.load(f)
        fold = self._gen_freshness().fold()
        assert fold == {k: checked_in[k] for k in fold}
        # and the r12 regen does carry fingerprints for every exact
        # entry (a fingerprint-less file would silently disable tier 2)
        assert checked_in.get("fingerprints"), "FRESHNESS.json has no fingerprints"

    def test_fingerprint_merge_records_last_green_code(self):
        """tools/gen_freshness.merge_fingerprints (r16): a recorded
        fingerprint is the fingerprint of the code the entry's last
        driver-green row verified.  Refresh ONLY on a green newer than
        the prior file's latest_round; keep the prior value otherwise
        (so a changed entry that missed the window keeps fronting —
        the overflow-carry the window docstring promises); take the
        current value for entries the prior file never saw.  Mid-round
        reruns are therefore idempotent."""
        gf = self._gen_freshness()
        current = {"a": "fpA2", "b": "fpB2", "n": "fpN1"}
        prior = {
            "latest_round": 15,
            "fingerprints": {"a": "fpA1", "b": "fpB1", "gone": "fpG"},
        }
        folded = {"last_green": {"a": 16, "b": 12, "n": 16}}
        merged = gf.merge_fingerprints(current, prior, folded)
        assert merged == {"a": "fpA2", "b": "fpB1", "n": "fpN1"}
        # idempotent within a round: merging again with itself as
        # prior (same latest_round) changes nothing
        again = gf.merge_fingerprints(
            current, {"latest_round": 16, "fingerprints": merged}, folded
        )
        assert again == merged

    def test_window_policy_on_real_catalog(self):
        import json

        from exosql_spark import catalog

        qs = catalog.all_queries()
        with open(self._repo("FRESHNESS.json")) as f:
            fresh = json.load(f)
        last, latest = fresh["last_green"], fresh["latest_round"]
        window = catalog.verify_window()
        # tier 1 also admits rows-only entries that have NEVER been
        # driver-EXECUTED (r15, r14 verdict Missing #4) — one shot
        # means one ATTEMPT, keyed on last_seen (ADVICE r15: keying
        # on last_green would re-front a never-green rows-only entry
        # every round, permanently consuming a slot)
        seen = fresh.get("last_seen", last)
        rows_only_new = [
            n for n, q in qs.items() if not q.oracle and n not in seen
        ]
        assert len(window) == min(
            catalog._WINDOW_SIZE,
            sum(1 for q in qs.values() if q.oracle) + len(rows_only_new),
        )
        in_window = set(window)
        exact = [n for n, q in qs.items() if q.oracle]
        # tier 1: every exact entry without a driver row is in the window
        new = [n for n in exact if n not in last] + rows_only_new
        assert set(new) <= in_window
        fps = catalog.current_fingerprints(qs)
        recorded = fresh.get("fingerprints", {})
        changed = [
            n
            for n in exact
            if n in last and n in recorded and fps.get(n) and fps[n] != recorded[n]
        ]
        # HARD streaming guarantee (r14): every streaming entry due a
        # row — rested or changed — is in the window, even under mass
        # fingerprint invalidation
        streaming_due = [
            n
            for n in exact
            if n in last
            and "streaming" in qs[n].tags
            and (last[n] < latest or n in set(changed))
        ]
        assert set(streaming_due) <= in_window
        # OVERDUE tier (r16): every entry at or past the staleness
        # ceiling is in the window, changed or not — the ceiling is
        # enforced by the window itself, so mass fingerprint
        # invalidation can never starve the oldest entries
        overdue = [
            n
            for n in exact
            if n in last
            and n not in set(streaming_due)
            and latest - last[n] >= catalog.STALENESS_CYCLE_CEILING
        ]
        room_overdue = catalog._WINDOW_SIZE - len(new) - len(streaming_due)
        if len(overdue) <= room_overdue:
            assert set(overdue) <= in_window
        # tier 3: changed entries fill the remaining slots oldest-green
        # first; when they all fit, every one is in the window, and any
        # overflow carries (fingerprints persist until the next green —
        # tools/gen_freshness.merge_fingerprints)
        changed_plain = sorted(
            (n for n in changed if n not in set(streaming_due) | set(overdue)),
            key=lambda n: (last[n], list(qs).index(n)),
        )
        room = room_overdue - len(overdue)
        assert set(changed_plain[: max(0, room)]) <= in_window
        if len(changed_plain) <= room:
            assert set(changed_plain) <= in_window
        # tier 4 fill is oldest-green first: nothing excluded is older
        # than anything included from the plain pool
        pool = [
            n
            for n in exact
            if n in last
            and n not in set(streaming_due) | set(changed) | set(overdue)
        ]
        included = [last[n] for n in pool if n in in_window]
        excluded = [last[n] for n in pool if n not in in_window]
        assert not included or not excluded or max(included) <= min(excluded)
        # and the window IS the iteration prefix the driver truncates
        assert tuple(list(qs)[: len(window)]) == window

    def test_changed_fingerprint_fronts_entry(self):
        """r11 verdict Next #3: an entry whose implementing source
        changed since its last driver-green row fronts as tier 2,
        ahead of the oldest-first rotation — synthetic registry so the
        pin is independent of the live catalog's rotation state.
        r16: an entry at the staleness CEILING outranks even a changed
        entry (a_old at 6 rounds fronts first); a merely-stale-but-
        under-ceiling entry does not (a_mid at 3 rounds sorts behind
        the changed one)."""
        from exosql_spark import catalog

        def fn(spark, sf_dir):  # never called
            raise NotImplementedError

        reg = {
            n: catalog.Query(n, fn, "SELECT 1")
            for n in ("a_old", "a_mid", "b_changed", "c_fresh", "d_new")
        }
        fresh = {
            "latest_round": 11,
            # a_old is AT the 6-round ceiling (green r5) -> overdue
            # tier; a_mid (green r8) is stale but under it
            "last_green": {"a_old": 5, "a_mid": 8, "b_changed": 11, "c_fresh": 11},
            "fingerprints": {
                "a_old": "same",
                "a_mid": "same",
                "b_changed": "OLD",
                "c_fresh": "same",
            },
        }
        fps = {"a_old": "same", "a_mid": "same", "b_changed": "NEW", "c_fresh": "same"}
        win = catalog.compute_verify_window(reg, fresh, size=4, current_fps=fps)
        assert win == ("d_new", "a_old", "b_changed", "a_mid")
        # without fingerprints the same call degrades to the r10 policy
        # (overdue first, then oldest-green fill)
        win = catalog.compute_verify_window(reg, fresh, size=4, current_fps=None)
        assert win == ("d_new", "a_old", "a_mid", "b_changed")

    def test_rows_only_one_shot_is_one_attempt(self):
        """ADVICE r15 (catalog.py): a rows-only entry's tier-1 slot is
        budgeted on ATTEMPTS — an entry whose one driver row errored
        (so it never entered last_green) must NOT re-front every
        round, and one never executed at all must front exactly once.
        Keyed on last_seen; a freshness file predating the last_seen
        fold degrades to the old last_green rule rather than
        re-fronting everything."""
        from exosql_spark import catalog

        def fn(spark, sf_dir):  # never called
            raise NotImplementedError

        reg = {
            "x_exact": catalog.Query("x_exact", fn, "SELECT 1"),
            "r_attempted": catalog.Query("r_attempted", fn, None),
            "r_never": catalog.Query("r_never", fn, None),
        }
        fresh = {
            "latest_round": 15,
            "last_green": {"x_exact": 15},
            # r_attempted got its one shot in r14 and it errored:
            # seen, not green
            "last_seen": {"x_exact": 15, "r_attempted": 14},
        }
        win = catalog.compute_verify_window(reg, fresh, size=3)
        assert "r_never" in win and "r_attempted" not in win
        # degraded mode: no last_seen map -> old rule (both front)
        legacy = {"latest_round": 15, "last_green": {"x_exact": 15}}
        win = catalog.compute_verify_window(reg, legacy, size=3)
        assert "r_never" in win and "r_attempted" in win

    def test_real_fingerprint_sees_operator_module_source(self):
        """entry_fingerprint must close over the OPERATOR module an
        entry executes, not just the fn body — the failure mode that
        motivated tier 2 was an asof.py rewrite invisible to the
        rotation.  Pin that join_asof_suite's closure set contains
        operators/asof.py, that the defining query module is excluded
        (a new llm_q entry must not re-front its neighbors), and that
        the hash is deterministic."""
        from exosql_spark import catalog

        qs = catalog.all_queries()
        q = qs["join_asof_suite"]
        _, deps = catalog._entry_source_and_deps(q)
        assert "exosql_spark.operators.asof" in deps
        assert "exosql_spark.queries.extensions_q" not in deps  # own module
        assert "exosql_spark.catalog" not in deps
        catalog._FP_CACHE.pop("join_asof_suite", None)
        fp1 = catalog.entry_fingerprint(q)
        assert fp1 and len(fp1) == 12
        catalog._FP_CACHE.pop("join_asof_suite", None)
        assert catalog.entry_fingerprint(q) == fp1
        # a dedup entry closes over operators/dedup.py the same way
        _, ddeps = catalog._entry_source_and_deps(qs["dedup_jaccard_exact_pairs"])
        assert "exosql_spark.operators.dedup" in ddeps

    def test_fingerprint_closure_is_transitive(self):
        """Round-14 gap close: the one-level closure missed code an
        entry executes through an intermediary — the r14 dialect.py
        edits did not re-front the dialect entries, whose fns
        reference context.py, which imports dialect.  The closure now
        follows the module import graph to fixpoint; own-module and
        catalog exclusions hold even via transitive paths."""
        from exosql_spark import catalog

        qs = catalog.all_queries()
        _, deps = catalog._entry_source_and_deps(qs["dialect_star_exclude"])
        assert "exosql_spark.context" in deps  # level 0
        assert "exosql_spark.dialect" in deps  # transitive via context
        assert "exosql_spark.catalog" not in deps
        assert "exosql_spark.queries.core" not in deps  # own module

    def test_fingerprint_sees_parenthesized_multiline_import(self):
        """ADVICE r12: streaming_ivf_ingest_parity imports llm_q
        helpers via a parenthesized MULTI-LINE ``from ... import
        (...)`` which the old regex never matched — an llm_q edit
        silently failed to re-front the entry.  The AST-based
        extraction must see it."""
        from exosql_spark import catalog

        qs = catalog.all_queries()
        _, deps = catalog._entry_source_and_deps(qs["streaming_ivf_ingest_parity"])
        assert "exosql_spark.queries.llm_q" in deps
        assert "exosql_spark.sinks" in deps  # plain from-import still seen

    def test_staleness_accounting_consistent(self):
        """The capacity story is computed, not prose (r12 verdict Next
        #5): the accounting's fields must agree with the registry and
        FRESHNESS.json, and rounds_to_cycle must be the exact ceil
        arithmetic it claims."""
        import math

        from exosql_spark import catalog

        acc = catalog.staleness_accounting()
        qs = catalog.all_queries()
        exact = [n for n, q in qs.items() if q.oracle]
        assert acc["n_exact"] == len(exact)
        assert acc["window"] == catalog._WINDOW_SIZE
        assert acc["plain_pool"] + acc["streaming_tier"] == acc["n_exact"]
        assert acc["fill_slots"] == max(acc["window"] - acc["streaming_tier"], 1)
        assert acc["rounds_to_cycle"] == math.ceil(
            acc["plain_pool"] / acc["fill_slots"]
        )
        # every never-verified entry fronts in the computed window
        assert set(acc["never_verified"]) <= set(catalog.verify_window())

    def test_window_capacity_policy(self):
        """Round-14 policy (r13 verdict Next #3): the worst-case
        oldest-first revisit cycle is CAPPED at
        STALENESS_CYCLE_CEILING rounds.  This test is the enforcement:
        when registration growth would push ceil(plain_pool /
        fill_slots) past the ceiling, it goes red and the remedy is
        consolidating related entries into one callable+oracle — NOT
        demoting exact oracles to rows-only, and NOT raising the
        ceiling without a verdict-level decision.  headroom_entries
        says how many more plain exact-oracle registrations fit."""
        from exosql_spark import catalog

        acc = catalog.staleness_accounting()
        assert acc["cycle_ceiling"] == catalog.STALENESS_CYCLE_CEILING == 6
        assert acc["rounds_to_cycle"] <= acc["cycle_ceiling"], (
            f"catalog over capacity: {acc['plain_pool']} plain exact oracles "
            f"cycle in {acc['rounds_to_cycle']} > {acc['cycle_ceiling']} rounds "
            f"(headroom {acc['headroom_entries']}); consolidate entries"
        )
        assert acc["headroom_entries"] == (
            acc["cycle_ceiling"] * acc["fill_slots"] - acc["plain_pool"]
        )
        assert acc["headroom_entries"] >= 0

    def test_window_fronts_r10_named_entries(self):
        """The r9 capacity note names the nine entries that MUST front
        the r10 window (three 4-round-stale rows + six rested
        streaming parity members); pin them while FRESHNESS.json says
        latest_round == 9."""
        import json

        from exosql_spark import catalog

        with open(self._repo("FRESHNESS.json")) as f:
            fresh = json.load(f)
        if fresh["latest_round"] != 9:
            return  # later rounds rotate differently, by design
        named = {
            "skew_salted_agg", "skew_salted_join", "unpivot_melt",
            "streaming_topk_parity", "streaming_enrich_parity",
            "streaming_attribution_parity", "streaming_sliding_parity",
            "streaming_anomaly_parity", "streaming_curation_parity",
        }
        assert named <= set(catalog.verify_window())


class TestBenchArtifacts:
    """Every bench artifact from round 9 on must carry the
    calibration_sec drift scalar — tools/compare_bench.py silently
    degrades to RAW ratios without it (r9 verdict Next #6)."""

    def _repo(self, *parts):
        return os.path.join(os.path.dirname(os.path.dirname(__file__)), *parts)

    def _load_compare_bench(self):
        spec = importlib.util.spec_from_file_location(
            "compare_bench", self._repo("tools", "compare_bench.py")
        )
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        return mod

    def test_bench_artifacts_carry_calibration(self):
        """Every round-9+ bench record must be RESOLVABLE to both
        calibration scalars — through tools/compare_bench's loader,
        which falls back to the committed BENCH_DETAIL_r{N}.json when
        the driver's tail capture overflowed (parsed: null, which
        BENCH_r12.json's 62-query single line actually hit — r12
        verdict Next #1).  From round 13 on the two-line stdout
        contract makes the driver artifact itself parse, so the
        PARSED record must carry the scalars directly."""
        import glob
        import json
        import re

        cb = self._load_compare_bench()
        seen = 0
        for path in sorted(glob.glob(self._repo("BENCH_r*.json"))):
            m = re.search(r"BENCH_r(\d+)\.json$", path)
            if m is None:
                # auxiliary driver artifacts (BENCH_r18_c8.json, the
                # low-core run) are not round records
                continue
            rnd = int(m.group(1))
            if rnd < 9:
                continue
            parsed = cb._load(path)  # detail-snapshot fallback inside
            assert isinstance(parsed.get("calibration_sec"), (int, float)) and \
                parsed["calibration_sec"] > 0, path
            if rnd >= 12:
                # r11 verdict Next #2: the shuffle-bound probe must
                # ship alongside the CPU probe from round 12 on
                assert isinstance(
                    parsed.get("calibration_shuffle_sec"), (int, float)
                ) and parsed["calibration_shuffle_sec"] > 0, path
            assert parsed.get("queries"), path  # per-query map resolved
            if rnd >= 13:
                with open(path) as f:
                    raw = json.load(f)
                assert isinstance(raw.get("parsed"), dict), (
                    f"{path}: parsed is null — the compact final-line "
                    f"contract (bench.summary_line) should have fit the "
                    f"driver's tail window"
                )
            seen += 1
        assert seen >= 1  # BENCH_r09.json exists

    def test_r12_artifact_resolves_via_detail_snapshot(self):
        """BENCH_r12.json is the artifact that broke (parsed: null);
        the committed BENCH_DETAIL_r12.json must reconstruct it —
        same query set as the tail fragment's sha1, full 62-entry
        map, both calibration scalars."""
        cb = self._load_compare_bench()
        parsed = cb._load(self._repo("BENCH_r12.json"))
        assert parsed["query_set_sha1"] == "4a6c8042204c"
        assert parsed["n_queries"] == 62 and len(parsed["queries"]) == 62
        assert parsed["calibration_sec"] == 0.245
        assert parsed["calibration_shuffle_sec"] == 0.869

    def test_compact_artifact_merges_live_detail(self, tmp_path):
        """Same-round comparison path: a round-13-style compact parsed
        record has no per-round snapshot yet (that lands at the NEXT
        round's start) — the loader must merge the per-query map from
        the live BENCH_DETAIL.json next to the artifact, gated on
        query_set_sha1; a mismatched live file must be a loud exit,
        never a silent wrong-map merge."""
        import json

        import pytest

        cb = self._load_compare_bench()
        compact = {
            "metric": "headline_queries_total_wall",
            "value": 2.0,
            "calibration_sec": 0.2,
            "calibration_shuffle_sec": 0.8,
            "n_queries": 2,
            "query_set_sha1": "abc123",
            "sf": 0.1,
        }
        (tmp_path / "BENCH_r99.json").write_text(json.dumps({"parsed": compact}))
        detail = {"query_set_sha1": "abc123", "min": {"a": 0.5, "b": 1.5}}
        (tmp_path / "BENCH_DETAIL.json").write_text(json.dumps(detail))
        loaded = cb._load(str(tmp_path / "BENCH_r99.json"))
        assert loaded["queries"] == {"a": 0.5, "b": 1.5}
        # sha1 mismatch → loud exit
        detail["query_set_sha1"] = "zzz999"
        (tmp_path / "BENCH_DETAIL.json").write_text(json.dumps(detail))
        with pytest.raises(SystemExit):
            cb._load(str(tmp_path / "BENCH_r99.json"))

    def test_summary_line_is_compact_and_complete(self):
        """The FINAL stdout line must parse standalone, carry every
        scalar the comparator and the artifact guard need, and stay
        far under the driver's ~2000-char tail window even for a
        catalog 10× today's — the exact failure mode of r05/r12 was
        the per-query map blowing this budget."""
        import importlib.util as ilu
        import json

        spec = ilu.spec_from_file_location("bench", self._repo("bench.py"))
        bench = ilu.module_from_spec(spec)
        spec.loader.exec_module(bench)
        out = {
            "metric": "headline_queries_total_wall",
            "excluded": [f"a_long_excluded_entry_name_{i:03d}" for i in range(600)],
            "value": 123.456,
            "unit": "sec",
            "calibration_sec": 0.245,
            "calibration_shuffle_sec": 0.869,
            "calibration_sec_end": 0.177,
            "calibration_shuffle_sec_end": 0.822,
            "estimator": "interleaved_min_of_5",
            "n_queries": 640,
            "query_set_sha1": "4a6c8042204c",
            "queries": {f"query_with_a_long_name_{i:03d}": 1.234 for i in range(640)},
            "sf": 0.1,
        }
        line = bench.summary_line(out)
        parsed = json.loads(line)
        assert "queries" not in parsed
        assert parsed["calibration_sec"] == 0.245
        assert parsed["calibration_shuffle_sec"] == 0.869
        assert parsed["calibration_sec_end"] == 0.177
        assert parsed["value"] == 123.456
        assert parsed["query_set_sha1"] == "4a6c8042204c"
        assert parsed["queries_detail"] == "BENCH_DETAIL.json"
        assert "excluded" not in parsed and parsed["n_excluded"] == 600
        assert len(line) <= 600

    def test_perquery_line_fits_tail_with_summary(self):
        """r18 verdict Next #2: the driver records only a bounded
        ~2000-char stdout tail, so the abbreviated per-query line PLUS
        the final summary line must fit it together — for the REAL
        bench set, with worst-case 5-char values."""
        import json
        import sys

        sys.path.insert(0, self._repo(""))
        try:
            from exosql_spark.catalog import all_queries
        finally:
            sys.path.pop(0)
        bench = self._bench_module()
        names = sorted(n for n, q in all_queries().items() if q.bench)
        out = {
            "metric": "headline_queries_total_wall",
            "excluded": [],
            "value": 123.456,
            "unit": "sec",
            "calibration_sec": 0.245,
            "calibration_shuffle_sec": 0.869,
            "calibration_sec_end": 0.245,
            "calibration_shuffle_sec_end": 0.869,
            "estimator": "interleaved_min_of_5",
            "n_queries": len(names),
            "query_set_sha1": "4a6c8042204c",
            "queries": {n: 12.34 for n in names},  # worst-case width
            "sf": 0.1,
        }
        pq_line = bench.perquery_line(out)
        s_line = bench.summary_line(out)
        combined = len(pq_line) + len(s_line) + 2  # two newlines
        assert combined < 2000, combined
        m = json.loads(pq_line)["q2dp"]
        assert len(m) == len(names)
        assert all(v == 12.34 for v in m.values())

    def test_query_name_abbreviation_round_trips(self):
        """The abbreviation must be injective over the ENTIRE catalog
        (not just the bench set — future bench additions come from
        there) and must expand back to canonical names against a name
        list; a collision would silently merge two entries' timings in
        the driver's tail record."""
        import sys

        sys.path.insert(0, self._repo(""))
        try:
            from exosql_spark.catalog import all_queries
        finally:
            sys.path.pop(0)
        bench = self._bench_module()
        names = sorted(all_queries())
        keys = [bench.abbrev_query_name(n) for n in names]
        assert len(set(keys)) == len(names), "abbreviation collision"
        expanded = bench.expand_query_names(keys, names)
        assert [expanded[k] for k in keys] == names

    def test_perquery_line_collision_fallback(self):
        """A runtime collision (two names sharing an abbreviated key)
        must fall back to full names for the colliding entries, never
        merge them under one key."""
        import json

        bench = self._bench_module()
        a, b = "zz_abcd_x", "zz_abcde_x"  # same 4-char token prefixes
        assert bench.abbrev_query_name(a) == bench.abbrev_query_name(b)
        out = {"queries": {a: 1.0, b: 2.0, "q1_pricing_summary": 3.0}}
        m = json.loads(bench.perquery_line(out))["q2dp"]
        assert m[a] == 1.0 and m[b] == 2.0
        assert m[bench.abbrev_query_name("q1_pricing_summary")] == 3.0

    def _bench_module(self):
        import importlib.util as ilu

        spec = ilu.spec_from_file_location("bench", self._repo("bench.py"))
        bench = ilu.module_from_spec(spec)
        spec.loader.exec_module(bench)
        return bench

    def test_detail_loaders_skip_corrupt_candidates(self, tmp_path):
        """ADVICE r17: a truncated / mid-write detail snapshot must
        not crash the comparison — _detail_for skips unreadable
        candidates and degrades to None."""
        import json

        cb = self._load_compare_bench()
        # truncated per-round snapshot next to the artifact
        (tmp_path / "BENCH_DETAIL_r09.json").write_text('{"min": {"q": 1.')
        art = tmp_path / "BENCH_r09.json"
        art.write_text(json.dumps({"query_set_sha1": "abc"}))
        assert cb._detail_for(str(art)) is None


class TestPlanNormdiff:
    """tools/plan_normdiff.py — the r18 plan-evidence comparator. Its
    verdicts are load-bearing: OPTIMIZATION_r18.md claims 13 of the 14
    SQL-text conversion plan pairs are structurally identical BASED ON
    this normalizer, so a normalization that silently ate a real
    structural difference would turn the round's equivalence evidence
    into noise. Pin both directions: session-dependent tokens must
    normalize away, structural differences must survive."""

    @staticmethod
    def _load():
        import importlib.util

        path = os.path.join(
            os.path.dirname(os.path.dirname(__file__)),
            "tools",
            "plan_normdiff.py",
        )
        spec = importlib.util.spec_from_file_location("plan_normdiff", path)
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        return mod

    def test_session_dependent_tokens_normalize_away(self):
        norm = self._load().normalize
        # realistic formatted-plan syntax: lambda variable REFERENCES are
        # always printed with the "lambda " prefix ("lambda x_67#90"),
        # which is what keeps the alpha-rename safe — a bare column
        # rename (no prefix) deliberately does NOT normalize away
        a = (
            "*(3) Project [query_id#512L, vec_id#513]\n"
            "+- aggregate(transform(v#88, lambdafunction(lambda x_67#90, "
            "lambda x_67#90, false)), named_struct(a, 1)) [codegen id : 3]\n"
            "   [plan_id=42]"
        )
        b = (
            "*(7) Project [query_id#1024L, vec_id#1025]\n"
            "+- aggregate(transform(v#12, lambdafunction(lambda acc#14, "
            "lambda acc#14, false)), struct(a, 1)) [codegen id : 7]\n"
            "   [plan_id=9000]"
        )
        assert norm(a) == norm(b)

    def test_structural_differences_survive(self):
        norm = self._load().normalize
        # a different operator, a different join key, an extra exchange:
        # none of these may normalize to equality
        pairs = [
            ("SortMergeJoin [k#1], [k#2]", "BroadcastHashJoin [k#1], [k#2]"),
            ("Exchange hashpartitioning(a#1, 200)",
             "Exchange hashpartitioning(b#1, 200)"),
            ("Filter (x#1 > 5)", "Filter (x#1 > 6)"),
            # identity-sensitive cases (ADVICE r18): same-name
            # DISTINCT-id join keys vs a self-comparison, and swapped
            # lambda operands — the old all-ids-to-one-token collapse
            # equated both pairs
            ("Join (a#1 = a#2)", "Join (a#1 = a#1)"),
            (
                "lambdafunction((lambda x_6#1 - lambda y_7#2), "
                "lambda x_6#1, lambda y_7#2, false)",
                "lambdafunction((lambda y_7#2 - lambda x_6#1), "
                "lambda x_6#1, lambda y_7#2, false)",
            ),
        ]
        for a, b in pairs:
            assert norm(a) != norm(b), (a, b)
        # and renumbering still equates plans whose raw ids merely
        # differ by session counter values
        assert norm("Join (a#5 = b#9), Project [a#5]") == norm(
            "Join (a#51 = b#90), Project [a#51]"
        )

    def test_committed_r18_pairs_verdicts(self):
        """The committed evidence itself: every *_before/after pair under
        plans/r18 except dedup_incremental_batch (the documented
        concat-to-transform collapse) must normalize identical."""
        mod = self._load()
        plans = os.path.join(
            os.path.dirname(os.path.dirname(__file__)), "plans", "r18"
        )
        import glob

        pairs = sorted(
            p[: -len("_before.txt")]
            for p in glob.glob(os.path.join(plans, "*_before.txt"))
        )
        sql_text_pairs = [
            p
            for p in pairs
            if os.path.exists(p + "_after.txt")
            and os.path.basename(p)
            not in (
                # pre-resume structural optimizations: the diff IS the point
                "corpus_quality_deciles",
                "corpus_curriculum_order",
                "stats_equidepth_histogram",
                "multimodal_header_probe_suite",
                "curate_corpus_pipeline",
                "text_lang_id",
                "text_quality_score",
            )
        ]
        assert sql_text_pairs, "no r18 SQL-text plan pairs found"
        for p in sql_text_pairs:
            a = mod.normalize(open(p + "_before.txt").read())
            b = mod.normalize(open(p + "_after.txt").read())
            name = os.path.basename(p)
            if name in ("dedup_incremental_batch", "multimodal_triage_mixed"):
                # documented intended structural changes: the concat-to-
                # transform collapse and the eval-once JPEG struct fold
                assert a != b, f"{name}: expected structural diff vanished"
            else:
                assert a == b, f"{name}: structural drift in committed evidence"

    def test_committed_r19_pairs_verdicts(self):
        """Same contract for the r19 evidence: pairs whose diff IS the
        documented optimization must differ; everything else must
        normalize identical."""
        mod = self._load()
        plans = os.path.join(
            os.path.dirname(os.path.dirname(__file__)), "plans", "r19"
        )
        import glob

        pairs = sorted(
            p[: -len("_before.txt")]
            for p in glob.glob(os.path.join(plans, "*_before.txt"))
            if os.path.exists(p[: -len("_before.txt")] + "_after.txt")
        )
        assert pairs, "no r19 plan pairs found"
        structural = {
            # the shared persisted token frame (InMemoryRelation appears)
            "corpus_dsir_importance",
            # tot self-join replaced by a window over one base reference
            "tpch_q20_volume_share_suppliers",
        }
        for p in pairs:
            a = mod.normalize(open(p + "_before.txt").read())
            b = mod.normalize(open(p + "_after.txt").read())
            name = os.path.basename(p)
            if name in structural:
                assert a != b, f"{name}: expected structural diff vanished"
            else:
                assert a == b, f"{name}: structural drift in committed evidence"
