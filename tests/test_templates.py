"""Template mining (operators/templates.py) vs a python re reference,
plus param extraction and known-shape assertions."""

from __future__ import annotations

import random
import re

from super_speedy_syslog_searcher_spark.operators.templates import (
    TEMPLATE_MASKS,
    mine_templates,
)


def _ref_template(text: str) -> str:
    for pat, rep in TEMPLATE_MASKS:
        text = re.sub(pat, rep, text)
    return text


class TestTemplates:
    def test_known_shapes(self, spark):
        rows = [
            (1, "s1", "sshd[1234]: accepted id=42"),
            (2, "s1", "sshd[99]: accepted id=7"),
            (3, "s1", "192.168.0.1 GET /p17 200"),
            (4, "s2", "err at 0xdeadBEEF offset 1685592000.123456"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, source string, text string")
        got = {
            (r["source"], r["template"]): (r["n"], r["n_params"], r["share"])
            for r in mine_templates(df).collect()
        }
        assert got[("s1", "sshd[<NUM>]: accepted id=<NUM>")] == (2, 2, 0.6667)
        assert got[("s1", "<IP> GET /p<NUM> <NUM>")] == (1, 3, 0.3333)
        assert got[("s2", "err at <HEX> offset <NUM>")] == (1, 2, 1.0)

    def test_randomized_vs_python_re(self, spark):
        rng = random.Random(5)
        frags = ["up", "down", "pid=", "0xab12", "10.0.0.", "x", "3.14", "100", "[", "]"]
        texts = [
            "".join(rng.choice(frags) for _ in range(rng.randint(1, 12)))
            for _ in range(150)
        ]
        df = spark.createDataFrame(
            [(i, "s", t) for i, t in enumerate(texts)], "doc_id long, source string, text string"
        )
        import collections

        want = collections.Counter(_ref_template(t) for t in texts)
        got = {r["template"]: r["n"] for r in mine_templates(df).collect()}
        assert got == dict(want)
