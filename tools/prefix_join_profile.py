"""Floor profile for the prefix-filter similarity joins (VERDICT r17 #9).

Phase-times dedup_ngram_jaccard / dedup_containment_exact at sf0.1 and
prints the candidate-volume ledger that decides whether the token
explode width (prefix tau-selectivity) can shrink the join input any
further without an oracle change:

- per-phase wall (noop sink per guide §1.4): sets-frame materialization
  (shingle+hash pass), document-frequency table, rarest-first prefixes,
  candidate join + distinct, full query;
- volume ledger: docs, tokens, prefix rows (the exploded join input),
  candidate pairs before/after distinct, verified pairs.

Usage: python tools/prefix_join_profile.py [--out JSON]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def timed(spark, label, fn):
    spark.sparkContext.setJobDescription(label)
    t0 = time.time()
    out = fn()
    dt = time.time() - t0
    spark.sparkContext.setJobDescription(None)
    return out, round(dt, 3)


def profile_jaccard(spark, sf_dir):
    from railgun_spark.operators.dedup import (
        _docs_with_shingles,
        _rarest_first_prefixes,
        _sets_frame,
        _size_ratio_ok,
        _tokens,
        jaccard_similarity_join,
    )

    res = {}
    s_in = _docs_with_shingles(spark, sf_dir, hashed=True)
    bc = ["lang"]
    s = _sets_frame(s_in, "doc_id", "sh", bc)
    _, res["t_sets_frame_noop"] = timed(spark, "jac: sets frame", lambda: noop(s))
    tok = _tokens(s, bc)
    n_tok, res["t_tokens_count"] = timed(spark, "jac: tokens", tok.count)
    res["n_tokens"] = n_tok
    df_tab = tok.groupBy(*bc, "__t").agg(F.count(F.lit(1)).alias("__df"))
    _, res["t_df_tab_noop"] = timed(spark, "jac: df table", lambda: noop(df_tab))
    pref = _rarest_first_prefixes(tok, df_tab, bc, 4, 5)
    n_pref, res["t_prefixes_count"] = timed(spark, "jac: prefixes", pref.count)
    res["n_prefix_rows"] = n_pref
    pa, pb = pref.alias("a"), pref.alias("b")
    cond = (
        (F.col("a.__t") == F.col("b.__t"))
        & (F.col("a.__id") < F.col("b.__id"))
        & _size_ratio_ok(F.col("a.__n"), F.col("b.__n"), 4, 5)
        & (F.col("a.lang") == F.col("b.lang"))
    )
    raw_cand = pa.join(pb, cond).select(
        F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b")
    )
    n_raw, res["t_cand_raw_count"] = timed(spark, "jac: raw candidates", raw_cand.count)
    res["n_candidates_raw"] = n_raw
    n_dist, res["t_cand_distinct_count"] = timed(
        spark, "jac: distinct candidates", raw_cand.distinct().count
    )
    res["n_candidates_distinct"] = n_dist
    full = jaccard_similarity_join(s_in, "doc_id", "sh", 4, 5, block_cols=("lang",))
    rows, res["t_full_collect"] = timed(spark, "jac: full", full.collect)
    res["n_pairs"] = len(rows)
    res["n_docs"] = s.count()
    return res


def profile_containment(spark, sf_dir):
    from railgun_spark.operators.dedup import (
        _docs_with_shingles,
        _rarest_first_prefixes,
        _sets_frame,
        _tokens,
        containment_similarity_join,
    )

    res = {}
    s_in = _docs_with_shingles(spark, sf_dir, hashed=True)
    s = _sets_frame(s_in, "doc_id", "sh", [])
    _, res["t_sets_frame_noop"] = timed(spark, "cont: sets frame", lambda: noop(s))
    tok = _tokens(s, [])
    df_tab = tok.groupBy("__t").agg(F.count(F.lit(1)).alias("__df"))
    pref = _rarest_first_prefixes(tok, df_tab, [], 9, 10)
    n_pref, res["t_prefixes_count"] = timed(spark, "cont: prefixes", pref.count)
    res["n_prefix_rows"] = n_pref
    pa, tb = pref.alias("a"), tok.alias("b")
    smaller = (F.col("a.__n") < F.col("b.__n")) | (
        (F.col("a.__n") == F.col("b.__n")) & (F.col("a.__id") < F.col("b.__id"))
    )
    raw = pa.join(tb, (F.col("a.__t") == F.col("b.__t")) & smaller).select(
        F.col("a.__id").alias("id_small"), F.col("b.__id").alias("id_big")
    )
    n_raw, res["t_cand_raw_count"] = timed(spark, "cont: raw candidates", raw.count)
    res["n_candidates_raw"] = n_raw
    n_dist, res["t_cand_distinct_count"] = timed(
        spark, "cont: distinct candidates", raw.distinct().count
    )
    res["n_candidates_distinct"] = n_dist
    full = containment_similarity_join(s_in, "doc_id", "sh", 9, 10)
    rows, res["t_full_collect"] = timed(spark, "cont: full", full.collect)
    res["n_pairs"] = len(rows)
    return res


def main():
    from railgun_spark.session import get_spark

    out_path = None
    args = sys.argv[1:]
    if "--out" in args:
        out_path = args[args.index("--out") + 1]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("prefix_join_profile")
    res = {
        "sf_dir": sf_dir,
        "jaccard": profile_jaccard(spark, sf_dir),
        "containment": profile_containment(spark, sf_dir),
    }
    line = json.dumps(res)
    print(line)
    if out_path:
        with open(out_path, "w") as f:
            f.write(line + "\n")


if __name__ == "__main__":
    main()
