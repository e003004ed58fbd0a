"""Pinned whitespace/tokenization semantics across ALL FOUR engines.

Round-1 fuzz regression (VERDICT "What's wrong #1"): Spark ``F.trim``
strips ONLY the space character, so ``has_text("\\n")`` and
``words("\\nfoo")`` diverged from the Python oracle / Arrow twin / DuckDB
(all `[^ \\t\\n\\x0b\\f\\r]`-based). The spec is now pinned: token list = the ASCII
``[^ \\t\\n\\x0b\\f\\r]+`` match list; has_text = "contains any ``[^ \\t\\n\\x0b\\f\\r]`` char".

Every implementation (JVM Column expr, Arrow pandas batch, per-row
Python oracle, DuckDB SQL) is asserted identical here on the falsifying
examples — change one, change all four (CLAUDE.md invariant).
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

import duckdb
import pandas as pd
import pyspark.sql.functions as F
import pytest

from datacurator_jl_spark.functions import text as X
from datacurator_jl_spark.functions import tokens
from datacurator_jl_spark.functions.arrow_stats import _token_stats_batch
from datacurator_jl_spark.testing import oracle as O

# the falsifying inputs from the round-1 fuzzer plus ordinary ones
# NB "\x0b" (vertical tab): Java and Python(ASCII) \s include it, RE2's
# does NOT — which is why every DuckDB oracle spells the whitespace class
# out explicitly instead of using \s/\S (round-2 review finding).
CASES = ["\n", "\nfoo", "\tbar ", " . ", "\t", "", "  ", "a b", "x\n\ny",
         "\tthe fox", "the and of", "\x0b", "a\x0bb", None]

# round-7 edge list: chars Python's ASCII \s excludes (NUL, the \x1c-\x1f
# separators, NEL, NBSP, U+2028), a case mapping that changes length
# ('İ'.lower() is two code points), all-whitespace docs, null
EDGE = ["\x00", "nul\x00 \x00also \x00", "\x1c\x1d\x1e\x1f", "a\x1cb c",
        "p\x85q", "x\xa0y z", "mixed \u2028 line", "\u0130 li\u0307ne \u0130",
        " \t\n\x0b\x0c\r ", "\v lone \f", "The THE the the", None]


def _spark_tok(spark, texts):
    df = spark.createDataFrame(
        pd.DataFrame({"i": range(len(texts)), "text": texts}),
        "i int, text string",
    )
    rows = (
        df.select(
            "i",
            X.words(F.col("text")).alias("w"),
            (F.col("text").isNotNull() & F.col("text").rlike(r"\S")).alias("ht"),
            X.fingerprint(F.col("text")).alias("fp"),
        )
        .collect()
    )
    return {r.i: (r.w, r.ht, r.fp) for r in rows}


def test_tokenization_pinned_four_way(spark):
    got = _spark_tok(spark, CASES)
    con = duckdb.connect()
    for i, t in enumerate(CASES):
        w_spark, ht_spark, fp_spark = got[i]
        # Python oracle
        w_py = O._words(t) if t is not None else None
        ht_py = O._eval_condition("has_text", {"text": t})
        # Arrow twin (nw only — it never materializes the token list)
        nw_arrow = int(_token_stats_batch(pd.Series([t]))["nw"].iloc[0])
        # DuckDB
        w_duck, ht_duck, fp_duck = con.execute(
            "SELECT regexp_extract_all(?, '[^ \\t\\n\\x0b\\f\\r]+'),"
            " ? IS NOT NULL AND regexp_matches(?, '[^ \\t\\n\\x0b\\f\\r]'),"
            " md5(trim(regexp_replace(lower(?), '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g')))",
            [t, t, t, t],
        ).fetchone()
        if t is None:
            assert w_spark is None and w_py is None
            assert ht_spark is False and ht_py is False
        else:
            assert w_spark == w_py == w_duck, (t, w_spark, w_py, w_duck)
            assert len(w_spark) == nw_arrow, (t, w_spark, nw_arrow)
            assert ht_spark == ht_py == ht_duck, (t, ht_spark, ht_py, ht_duck)
            assert fp_spark == fp_duck, (t, fp_spark, fp_duck)


def test_has_whitespace_vertical_tab_cross_engine(spark):
    """has_whitespace must agree with its DuckDB oracle on \\x0b — both
    sides now spell the class explicitly (`[ \\t\\n\\x0b\\f\\r,]`) because
    RE2's \\s excludes vertical tab while Java's includes it (ADVICE r2)."""
    from datacurator_jl_spark.functions import predicates as P

    names = ["a\x0bb", "a b", "a,b", "a\tb", "plain", ""]
    df = spark.createDataFrame(
        pd.DataFrame({"i": range(len(names)), "s": names}), "i int, s string"
    )
    got = {r.i: r.ws for r in df.select("i", P.has_whitespace(F.col("s")).alias("ws")).collect()}
    con = duckdb.connect()
    for i, s in enumerate(names):
        (exp,) = con.execute(
            "SELECT regexp_matches(?, '[ \\t\\n\\x0b\\f\\r,]')", [s]
        ).fetchone()
        assert got[i] == exp, (s, got[i], exp)
    assert got[0] is True  # the RE2-divergence case itself


def test_terminal_punct_vertical_tab_line_cross_engine(spark):
    """A line consisting only of \\x0b must count as BLANK in
    terminal_punct_line_ratio on BOTH engines (round-4 verdict finding:
    d17's oracle used RE2 '\\S', which counts the \\x0b line non-blank and
    shifts the denominator; the oracle now spells `[^ \\t\\n\\x0b\\f\\r]`
    explicitly, which coincides with Java's ASCII \\S)."""
    import duckdb

    # 3 lines; the middle is \x0b-only -> blank; both non-blank lines end
    # in '.', so the ratio must be exactly 1.0 (not 2/3) on both engines.
    t = "Good sentence.\n\x0b\nAnother."
    df = spark.createDataFrame(pd.DataFrame({"text": [t]}), "text string")
    (got,) = df.select(
        F.round(X.terminal_punct_line_ratio(F.col("text")), 6).alias("r")
    ).collect()[0]
    (exp,) = duckdb.connect().execute(
        r"""
        WITH l AS (SELECT str_split(?, chr(10)) AS lines)
        SELECT CASE WHEN len(list_filter(lines, x -> regexp_matches(x, '[^ \t\n\x0b\f\r]'))) > 0 THEN
          round(len(list_filter(lines, x -> regexp_matches(x, '[^ \t\n\x0b\f\r]')
                                        AND regexp_matches(x, '[.!?"''][ \t\x0b\f\r]*$')))::DOUBLE
                / len(list_filter(lines, x -> regexp_matches(x, '[^ \t\n\x0b\f\r]'))), 6)
        ELSE 0.0 END FROM l
        """,
        [t],
    ).fetchone()
    assert got == exp == 1.0, (got, exp)


def test_fuzz_falsifying_example_labels(spark, flagship_spec):
    """The exact round-1 failing fuzz input, pinned forever."""
    from datacurator_jl_spark.engine import Pipeline
    from datacurator_jl_spark.testing.oracle import oracle_labels

    pdf = pd.DataFrame({"url": [f"u{i}" for i in range(len(CASES))], "text": CASES})
    df = spark.createDataFrame(pdf, "url string, text string")
    got = (
        Pipeline(flagship_spec)
        .apply(df)
        .df.select("url", "dc_kept", "dc_rule_id")
        .toPandas()
        .sort_values("url")
        .reset_index(drop=True)
    )
    exp = oracle_labels(pdf, flagship_spec).sort_values("url").reset_index(drop=True)
    assert list(got["dc_kept"]) == list(exp["keep"])
    assert list(got["dc_rule_id"]) == list(exp["rule_id"])


@pytest.mark.parametrize("lower", [True, False])
def test_tokens_match_ascii_findall(lower):
    """functions/tokens.py — occurrence codes, distinct codes and
    ``words()`` — equal the ``re.ASCII \\S+`` findall list, null text
    having no tokens."""
    rx = re.compile(r"\S+", re.ASCII)
    texts = pd.Series(CASES + EDGE)
    ref = [rx.findall((t or "").lower() if lower else (t or "")) for t in texts]

    rows, codes, uniques = tokens.token_codes(texts, lower=lower)
    assert len(set(uniques)) == len(uniques)
    got: list[list[str]] = [[] for _ in texts]
    for r, c in zip(rows.tolist(), codes.tolist()):
        got[r].append(uniques[c])
    assert got == ref

    drows, dcodes = tokens.distinct_pairs(rows, codes, len(uniques))
    pairs = [(r, uniques[c]) for r, c in zip(drows.tolist(), dcodes.tolist())]
    assert pairs == sorted(pairs, key=lambda p: (p[0], uniques.index(p[1])))
    assert set(pairs) == {(i, w) for i, ws in enumerate(ref) for w in ws}
    assert len(pairs) == len(set(pairs))

    if lower:
        assert [tokens.words(t) for t in texts] == ref


def test_one_token_regex_in_package():
    """The package spells the ``\\S+`` token regex exactly once, in
    functions/tokens.py; every other kernel imports it from there
    (testing/oracle.py keeps its own as the independent reference)."""
    pkg = Path(tokens.__file__).resolve().parents[1]
    sites = []
    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(pkg).as_posix()
        if rel == "testing/oracle.py":
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Call) and any(
                isinstance(a, ast.Constant) and a.value == r"\S+" for a in node.args
            ):
                sites.append((rel, ast.unparse(node.func)))
    assert sites == [("functions/tokens.py", "re.compile")], sites
