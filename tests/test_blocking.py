"""Degenerate inputs for the capped-bucket self-join.

Every pair generator built on blocking.bucket_self_join (textops'
MinHash band and Jaccard block joins, linking's LSH band join) and the
incremental attach tier's cap must return a typed frame with the right
rows and the exact dropped-bucket count on empty, single-row,
one-hot-bucket, at-cap, over-cap and CJK inputs."""

from itertools import combinations

import pytest

from ollie_spark.spark.linking import incremental_link, lsh_candidate_pairs
from ollie_spark.spark.textops import minhash_band_pairs, ngram_jaccard_pairs


def _family(cycle, n):
    """n distinct strings sharing ONE char-3-gram set: substrings of at
    least 5 chars of a repeated 3-char cycle.  Equal gram sets give
    equal MinHash signatures, so all n share every LSH band."""
    out = []
    for length in range(5, 40):
        for off in range(3):
            s = (cycle * 14)[off:off + length]
            if s not in out:
                out.append(s)
    return out[:n]


def _pair_dtypes(side):
    return [(f"{side}_a", "string"), (f"{side}_b", "string")]


def _minhash(spark, n, cjk, cap):
    text = "中文 字符 测试 文本" if cjk else "lorem ipsum dolor sit amet"
    docs = spark.createDataFrame([(f"d{i}", text) for i in range(n)],
                                 "doc_id string, text string")
    mo = {}
    out = minhash_band_pairs(docs, max_bucket=cap, metrics_out=mo)
    want = set(combinations([f"d{i}" for i in range(n)], 2))
    return out, mo["dropped_bands"], want, 2, _pair_dtypes("doc")


def _jaccard(spark, n, cjk, cap):
    lang = "中文" if cjk else "en"
    docs = spark.createDataFrame(
        [(f"d{i}", lang, "same words in every doc") for i in range(n)],
        "doc_id string, lang string, text string")
    mo = {}
    out = ngram_jaccard_pairs(docs, max_block=cap, metrics_out=mo)
    want = {(a, b, 1.0)
            for a, b in combinations([f"d{i}" for i in range(n)], 2)}
    return (out, mo["dropped_blocks"], want, 1,
            _pair_dtypes("doc") + [("jaccard", "double")])


def _lsh(spark, n, cjk, cap):
    norms = _family("中文字" if cjk else "aab", n)
    ents = spark.createDataFrame([(x,) for x in norms], "norm string")
    mo = {}
    out = lsh_candidate_pairs(ents, max_bucket=cap, metrics_out=mo)
    want = {tuple(sorted(p)) for p in combinations(norms, 2)}
    return out, mo["dropped_buckets"], want, 8, _pair_dtypes("norm")


def _attach(spark, n, cjk, cap):
    # the existing map is the capped frame; the batch's first norm is
    # one more member of the ASCII family, so it attaches to the map's
    # node exactly when the family's bands survive the cap (CJK map
    # norms never match: normalization strips non-ASCII from mentions)
    members = _family("中文字" if cjk else "aab", n)
    new = _family("aab", n + 1)[-1]
    existing = spark.createDataFrame([(x, "n0") for x in members],
                                     "norm string, node_id string")
    batch = spark.createDataFrame(
        [(new, "made", "zzz", 0.9)],
        "arg1_text string, rel_text string, arg2_text string, "
        "conf double")
    mo = {}
    _, out = incremental_link(batch, existing, max_bucket=cap,
                              metrics_out=mo)
    attaches = not cjk and 0 < n <= cap
    want = {(new, "n0" if attaches else new), ("zzz", "zzz")}
    return (out, mo["dropped_bands_attach"], want, 8,
            [("norm", "string"), ("node_id", "string")])


CASES = {
    # name: (rows in the one hot bucket, cap, cjk)
    "empty": (0, 3, False),
    "single_row": (1, 3, False),
    "one_bucket": (5, 64, False),
    "at_cap_kept": (3, 3, False),
    "over_cap_dropped": (4, 3, False),
    "cjk_keys": (3, 3, True),
}


@pytest.mark.parametrize("case", list(CASES))
@pytest.mark.parametrize("gen", [_minhash, _jaccard, _lsh, _attach],
                         ids=["minhash", "jaccard", "lsh", "attach"])
def test_capped_generators_on_degenerate_input(spark, gen, case):
    n, cap, cjk = CASES[case]
    out, dropped, want, buckets, dtypes = gen(spark, n, cjk, cap)
    assert out.dtypes == dtypes
    assert dropped == (buckets if n > cap else 0)
    got = {tuple(r) for r in out.collect()}
    if gen is _attach:
        assert got == want
    else:
        assert got == (set() if n > cap else want)
