"""decontaminate_ngram vs an independent pure-Python recomputation.

The driver gate compares against the DuckDB oracle; this test recomputes
the contamination report from the raw parquet with plain Python string
ops — a third, engine-free implementation — so a shared misreading of the
tokenization rule in BOTH SQL dialects would still be caught.
"""

import re

import pandas as pd
import pyspark.sql.functions as F

from sen2rts_spark.operators.grouped import engine_width
from sen2rts_spark.queries_docs import (_DECONTAM_MOD, _DECONTAM_N,
                                        _ngram_rows, q_decontaminate_ngram)

SF_DIR = "/root/testdata/sf0.001"


def _py_ngrams(text, n):
    words = [w for w in re.sub(r"[^a-z0-9 ]", " ", text.lower()).split(" ")
             if w]
    return {" ".join(words[i:i + n]) for i in range(len(words) - n + 1)}


def _py_report(n, mod):
    docs = pd.read_parquet(SF_DIR + "/documents.parquet")
    grams = {r.doc_id: _py_ngrams(r.text, n) for r in docs.itertuples()}
    ev = {d: g for d, g in grams.items() if d % mod == 0}
    out = {}
    for d, g in grams.items():
        if d % mod == 0:
            continue
        hit_grams, hit_evals = set(), set()
        for e, eg in ev.items():
            inter = g & eg
            if inter:
                hit_grams |= inter
                hit_evals.add(e)
        if hit_grams:
            out[d] = (len(hit_grams), len(hit_evals))
    return out


def test_decontaminate_matches_python(spark):
    got = {r["doc_id"]: (r["n_hits"], r["n_eval_docs"])
           for r in q_decontaminate_ngram(spark, SF_DIR).collect()}
    want = _py_report(_DECONTAM_N, _DECONTAM_MOD)
    assert got == want
    assert len(want) > 0  # the fixture's planted dups cross the split
    assert all(d % _DECONTAM_MOD != 0 for d in got)  # eval docs never flagged


def test_ngram_rows_zero_shuffle_and_short_docs(spark):
    """The gram subtree must stay shuffle-free past the input spread (the
    scale contract: each doc's grams are assembled inside its own row, so
    its only exchange is the spread's hash of the raw text rows on doc_id
    at engine width) and a doc shorter than n words must vanish."""
    ng = _ngram_rows(spark, SF_DIR, _DECONTAM_N)
    plan = ng._jdf.queryExecution().executedPlan().toString()
    width = engine_width(spark)
    assert plan.count("Exchange") == 1, plan
    assert re.search(rf"Exchange hashpartitioning\(doc_id#\d+L?, {width}\)",
                     plan), plan
    short = spark.createDataFrame(
        [(1, "only four words here"), (2, "one two three four five six")],
        "doc_id long, text string")
    rows = (short
            .select("doc_id", F.explode(F.array(F.filter(
                F.split(F.regexp_replace(F.lower("text"), r"[^a-z0-9 ]", " "),
                        " "), lambda w: w != ""))).alias("ws"))
            .filter(F.size("ws") >= _DECONTAM_N)
            .count())
    assert rows == 1  # the 4-word doc is filtered before sequence()
