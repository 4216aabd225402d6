"""Each shared formula is spelled out once, in its helper.

Pasted copies drift apart: a desynchronized md5 hash silently
mis-buckets a sketch probe, and a p-value tail edited in one test but
not its siblings changes results nobody asked to change.  The scan
reads ``plda_spark/**/*.py`` with all whitespace removed, because a
copy may span lines, and attributes each match to the top-level
function (or ``<module>``) holding it."""

from __future__ import annotations

import ast
import re
from collections import Counter
from pathlib import Path

import pytest

PKG = Path(__file__).resolve().parent.parent / "plda_spark"


def _squeeze(text: str) -> str:
    return re.sub(r"\s+", "", text)


def _spellings(pattern: re.Pattern, pkg: Path = PKG) -> Counter:
    """``(path, top-level name) -> matches`` over every module of ``pkg``."""
    found: Counter = Counter()
    for path in sorted(pkg.rglob("*.py")):
        src = path.read_text()
        rel = path.relative_to(pkg.parent).as_posix()
        rest = len(pattern.findall(_squeeze(src)))
        if not rest:
            continue
        lines = src.splitlines()
        for node in ast.parse(src).body:
            if isinstance(node, (ast.FunctionDef, ast.ClassDef)):
                body = "".join(lines[node.lineno - 1 : node.end_lineno])
                n = len(pattern.findall(_squeeze(body)))
                if n:
                    found[(rel, node.name)] += n
                    rest -= n
        if rest:
            found[(rel, "<module>")] += rest
    return found


SPELLINGS = {
    "md5-60 hash": (
        re.escape("F.conv(F.substring(F.md5("),
        {("plda_spark/_exprs.py", "md5_long"): 1},
    ),
    # _f_upper_p's Paulson form has no such term
    "Wilson-Hilferty chi-squared term": (
        re.escape("F.lit(1.0)-F.lit(2.0)/(F.lit(9.0)*"),
        {("plda_spark/operators/stats.py", "_chi2_upper_p"): 1},
    ),
    # bayes_ab_beta's Phi takes 1 - tail on the other branch
    "one-sided normal half-tail": (
        r"_two_sided_normal_p\(F\.abs\((?:[^()]|\([^()]*\))*\)\)/F\.lit\(2\.0\)",
        {
            ("plda_spark/operators/stats.py", "_normal_upper_p"): 1,
            ("plda_spark/operators/stats.py", "bayes_ab_beta"): 1,
        },
    ),
    "two-group moment aggregation": (
        r"F\.sum\(F\.when\([ab],v\*v\)",
        {("plda_spark/operators/stats.py", "_two_group_moments"): 2},
    ),
    "basket pair self-join": (
        re.escape('.filter(F.col("item_a")<F.col("item_b"))'),
        {("plda_spark/operators/events.py", "_basket_pairs"): 1},
    ),
    # the graph operators' driver cutover: one cap, one capped collect
    "driver edge cap": (
        re.escape("_DRIVER_MAX_EDGES="),
        {("plda_spark/operators/graph.py", "<module>"): 1},
    ),
    "bounded edge collect": (
        re.escape(".limit(_DRIVER_MAX_EDGES+1)"),
        {("plda_spark/operators/graph.py", "_collect_edges"): 1},
    ),
    "seconds since the epoch": (
        re.escape('cast("timestamp_ltz"))/F.lit(1_000_000.0)'),
        {("plda_spark/_exprs.py", "epoch_secs"): 1},
    ),
}


@pytest.mark.parametrize("name", sorted(SPELLINGS))
def test_formula_is_spelled_once(name):
    pattern, allowed = SPELLINGS[name]
    assert _spellings(re.compile(pattern)) == Counter(allowed)


def test_no_lda_stream_keyed_by_spark_placement():
    """LDA's RNG streams are keyed by (seed, pid, iteration) or
    (seed, doc_id), never by where Spark runs a task: nothing under
    ``plda_spark/lda/`` reads the task's partition."""
    assert _spellings(re.compile(r"TaskContext|partitionId\("), PKG / "lda") == Counter()
