"""Edit-distance similarity join (dedup.fuzzy_join): PassJoin segment
blocking completeness vs a brute-force DP twin, strategy equivalence,
short-string leg, degenerate budgets, and the no-theta-join plan shape."""

from __future__ import annotations

import random

import pytest


def _lev(a: str, b: str) -> int:
    if len(a) < len(b):
        a, b = b, a
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def _brute(lrows, rrows, d):
    return {
        (li, ri, _lev(a, b))
        for li, a in lrows
        for ri, b in rrows
        if _lev(a, b) <= d
    }


def _dfs(spark, lrows, rrows):
    lt = spark.createDataFrame(lrows, "left_id string, s string")
    rt = spark.createDataFrame(rrows, "right_id string, s string")
    return lt, rt


def _run(lt, rt, d, strategy):
    from super_speedy_syslog_searcher_spark.operators.dedup import fuzzy_join

    return {
        (r["left_id"], r["right_id"], r["dist"])
        for r in fuzzy_join(lt, rt, max_dist=d, strategy=strategy).collect()
    }


class TestFuzzyJoin:
    @pytest.mark.parametrize("d", [1, 2])
    def test_complete_vs_brute_force(self, spark, d):
        rng = random.Random(41 + d)
        lrows = [
            (f"l{i}", "".join(rng.choice("abc") for _ in range(rng.randrange(0, 9))))
            for i in range(60)
        ]
        rrows = [
            (f"r{i}", "".join(rng.choice("abc") for _ in range(rng.randrange(0, 9))))
            for i in range(40)
        ]
        lt, rt = _dfs(spark, lrows, rrows)
        want = _brute(lrows, rrows, d)
        assert _run(lt, rt, d, "segment") == want
        assert _run(lt, rt, d, "broadcast") == want

    def test_realistic_hostname_typos(self, spark):
        lrows = [
            ("l0", "cdn.exmple.com"),    # deletion
            ("l1", "cdn.example.comm"),  # insertion
            ("l2", "cdn.example.con"),   # substitution
            ("l3", "totally.other.net"),
            ("l4", "cdn.example.com"),   # exact
        ]
        rrows = [("r0", "cdn.example.com")]
        lt, rt = _dfs(spark, lrows, rrows)
        got = _run(lt, rt, 1, "segment")
        assert got == {("l0", "r0", 1), ("l1", "r0", 1), ("l2", "r0", 1), ("l4", "r0", 0)}

    def test_d0_degenerates_to_exact_join(self, spark):
        lrows = [("l0", "abc"), ("l1", "abd"), ("l2", "")]
        rrows = [("r0", "abc"), ("r1", "")]
        lt, rt = _dfs(spark, lrows, rrows)
        want = {("l0", "r0", 0), ("l2", "r1", 0)}
        assert _run(lt, rt, 0, "segment") == want
        assert _run(lt, rt, 0, "broadcast") == want

    def test_short_right_strings_not_missed(self, spark):
        """Right strings shorter than d+1 can't be segmented — the
        short leg must still pair them."""
        lrows = [("l0", "ab"), ("l1", "xyz"), ("l2", "a")]
        rrows = [("r0", "a"), ("r1", "")]
        lt, rt = _dfs(spark, lrows, rrows)
        want = _brute(lrows, rrows, 2)
        assert _run(lt, rt, 2, "segment") == want

    def test_short_side_limit_raises(self, spark):
        from super_speedy_syslog_searcher_spark.operators.dedup import fuzzy_join

        lrows = [("l0", "abcd")]
        rrows = [(f"r{i}", "x") for i in range(5)]
        lt, rt = _dfs(spark, lrows, rrows)
        with pytest.raises(ValueError, match="short_side_limit"):
            fuzzy_join(lt, rt, max_dist=2, short_side_limit=3).count()

    def test_no_cartesian_in_segment_plan(self, spark):
        """The segment strategy's candidate join must be an equi hash
        join on the (segment, seg_no, L) key — never a nested-loop or
        cartesian product over the corpus."""
        from super_speedy_syslog_searcher_spark.operators.dedup import fuzzy_join

        lrows = [(f"l{i}", f"host{i}.example.com") for i in range(10)]
        rrows = [(f"r{i}", f"host{i}.example.org") for i in range(10)]
        lt, rt = _dfs(spark, lrows, rrows)
        plan = (
            fuzzy_join(lt, rt, max_dist=1, strategy="segment")
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
