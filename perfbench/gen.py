"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of its arguments (``random.Random``
and ``numpy.random.default_rng`` seeded from them): the same seed gives
byte-identical inputs, and the program under test only ever sees the
generated frames or files.

- ``open_vocab_mentions``: an open-vocabulary mention table with planted
  alias / typo / case variants of composite names, each variant tagged
  with its ground-truth cluster id, plus one Zipf head entity with
  enough spelling variants to overflow the LSH band cap.
- ``write_curation_tables``: the six parquet tables the curation query
  battery reads (lineitem, orders, customer, documents, events,
  embeddings), in the shapes the queries and their DuckDB oracles
  expect.
"""

from __future__ import annotations

import random
import re

import numpy as np
import pandas as pd

from ollie_spark.spark.linking import DETERMINERS

# ------------------------------------------------- open-vocabulary mentions

# 22 onsets x 7 nuclei x 7 codas: ~1,000 syllables, 2-3 per token, so
# two unrelated names almost never share enough character 3-grams to
# collide in an LSH band (a 12-syllable alphabet did, by accident).
_ONSETS = ("b c d f g h j k l m n p r s t v w z br dr st tr").split()
_NUCLEI = ("a e i o u ai ou").split()
_CODAS = ["", "n", "r", "l", "s", "m", "k"]
_ORG_SUFFIX = (("Corp", "Corporation"), ("Inc", "Incorporated"),
               ("Labs", "Laboratories"), ("Intl", "International"))
_RELATIONS = ("founded acquired visited praised joined admired funded "
              "sued hired advised met supplied").split()
_DET_RE = re.compile(r"^(?:" + "|".join(DETERMINERS) + r") ")


def norm_key(text: str) -> str:
    """Python spelling of the linking module's argument normalization
    (lowercase, non-alphanumeric runs -> one space, leading determiner
    dropped).  Used only to keep planted clusters from colliding on one
    normalized key; scoring never relies on it."""
    t = re.sub(r"[^a-z0-9]+", " ", text.lower()).strip()
    return _DET_RE.sub("", t).strip()


def _token(rng: random.Random) -> str:
    n = rng.choice((2, 2, 3))
    s = "".join(rng.choice(_ONSETS) + rng.choice(_NUCLEI) + rng.choice(_CODAS)
                for _ in range(n))
    return s.capitalize()


def _typo(rng: random.Random, name: str) -> str:
    """One substitution, deletion or transposition, never in the first
    letter of a token (keeps the variant recognisably the same name)."""
    pos = [i for i in range(1, len(name))
           if name[i].isalpha() and name[i - 1].isalpha()]
    i = rng.choice(pos)
    op = rng.randrange(3)
    if op == 0:
        c = rng.choice("aeioulnrst".replace(name[i].lower(), ""))
        return name[:i] + c + name[i + 1:]
    if op == 1:
        return name[:i] + name[i + 1:]
    if i + 1 < len(name) and name[i + 1].isalpha():
        return name[:i] + name[i + 1] + name[i] + name[i + 2:]
    return name[:i] + name[i + 1:]


def _cluster_variants(rng: random.Random, kind: int) -> list[str]:
    """Surface forms of one entity: canonical, then planted variants."""
    if kind == 0:      # person: First Last, alias with a middle initial
        first, last = _token(rng), _token(rng)
        canon = f"{first} {last}"
        aliases = [f"{first} {rng.choice('ABCDEFGHJKLMNPRST')}. {last}"]
    elif kind == 1:    # organisation: Name Suffix, alias = long suffix
        name = f"{_token(rng)} {_token(rng)}"
        short, long_ = _ORG_SUFFIX[rng.randrange(len(_ORG_SUFFIX))]
        canon = f"{name} {short}"
        aliases = [f"{name} {long_}", f"the {name} {short}"]
    else:              # place: one long token + a region word
        canon = f"{_token(rng)}{_token(rng).lower()} {_token(rng)}"
        aliases = []
    out = [canon]
    out += [a for a in aliases if rng.random() < 0.6]
    if rng.random() < 0.5:
        out.append(_typo(rng, canon))
    if rng.random() < 0.3:
        out.append(canon.upper())
    return out


def open_vocab_mentions(seed: int, n_clusters: int, n_mentions: int,
                        head_variants: int = 160,
                        zipf_s: float = 1.05,
                        id_prefix: str = "ov") -> tuple[pd.DataFrame, dict]:
    """-> (mentions, truth).

    ``mentions`` has the columns the linking stage reads
    (doc_id, span_idx, sent_idx, arg1_text, rel_text, arg2_text, conf).
    ``truth`` maps every planted surface string to its cluster id.

    Cluster 0 is the Zipf head: it takes the largest mention share and
    carries ``head_variants`` distinct typo spellings, so its LSH bands
    overflow the blocking cap (those dropped buckets cost recall, which
    the benchmark reports).  Every planted surface appears in at least
    one mention, so the distinct-norm count is known up front.
    """
    rng = random.Random(f"open-vocab:{seed}")
    truth: dict[str, int] = {}
    owner: dict[str, int] = {}
    variants: list[list[str]] = []
    for cid in range(n_clusters):
        while True:
            forms = _cluster_variants(rng, cid % 3)
            keys = {norm_key(f) for f in forms}
            if not any(k in owner for k in keys):
                break
        if cid == 0:
            canon = forms[0]
            while len(forms) < head_variants:
                v = _typo(rng, _typo(rng, canon)) if rng.random() < 0.5 \
                    else _typo(rng, canon)
                if norm_key(v) not in owner:
                    forms.append(v)
                    owner[norm_key(v)] = cid
        forms = [f for f in dict.fromkeys(forms)
                 if owner.setdefault(norm_key(f), cid) == cid]
        for f in forms:
            truth[f] = cid
        variants.append(forms)

    nrng = np.random.default_rng(rng.getrandbits(63))
    weights = 1.0 / np.arange(1, n_clusters + 1) ** zipf_s
    weights /= weights.sum()
    surfaces = [f for forms in variants for f in forms]
    n_args = max(2 * n_mentions, len(surfaces))
    picks = nrng.choice(n_clusters, size=n_args - len(surfaces), p=weights)
    args = surfaces + [variants[c][nrng.integers(len(variants[c]))]
                       for c in picks]
    order = nrng.permutation(len(args))
    args = [args[i] for i in order]
    if len(args) % 2:
        args.append(variants[0][0])
    n = len(args) // 2
    rels = nrng.integers(len(_RELATIONS), size=n)
    mentions = pd.DataFrame({
        "doc_id": [f"{id_prefix}-{seed}-{i // 4:08d}" for i in range(n)],
        "span_idx": (np.arange(n) % 4).astype("int32"),
        "sent_idx": np.zeros(n, dtype="int32"),
        "arg1_text": args[0::2],
        "rel_text": [_RELATIONS[r] for r in rels],
        "arg2_text": args[1::2],
        "conf": nrng.uniform(0.2, 1.0, size=n).round(6),
    })
    return mentions, truth


def _contingency(labels: dict, truth: dict):
    """(cells, predicted sizes, gold sizes, n) over the surfaces both
    maps know."""
    common = [s for s in labels if s in truth]
    cells: dict = {}
    pred: dict = {}
    gold: dict = {}
    for s in common:
        p, g = labels[s], truth[s]
        cells[(p, g)] = cells.get((p, g), 0) + 1
        pred[p] = pred.get(p, 0) + 1
        gold[g] = gold.get(g, 0) + 1
    return cells, pred, gold, len(common)


def pair_scores(labels: dict, truth: dict) -> tuple[float, float]:
    """Pairwise precision and recall of a predicted clustering.

    ``labels`` maps each surface to its predicted node id and ``truth``
    to its planted cluster.  Pairs are unordered pairs of distinct
    surfaces, counted through the contingency table.  A big cluster
    weighs quadratically, so the Zipf head dominates these scores."""
    cells, pred, gold, _ = _contingency(labels, truth)

    def c2(k):
        return k * (k - 1) // 2

    tp = sum(c2(k) for k in cells.values())
    pp = sum(c2(k) for k in pred.values())
    gp = sum(c2(k) for k in gold.values())
    return (tp / pp if pp else 1.0), (tp / gp if gp else 1.0)


def bcubed_scores(labels: dict, truth: dict) -> tuple[float, float]:
    """B-cubed precision and recall: per-surface overlap of its
    predicted and planted clusters, averaged over surfaces, so every
    surface weighs the same whatever the size of its cluster."""
    cells, pred, gold, n = _contingency(labels, truth)
    if not n:
        return 1.0, 1.0
    precision = sum(k * k / pred[p] for (p, _), k in cells.items()) / n
    recall = sum(k * k / gold[g] for (_, g), k in cells.items()) / n
    return precision, recall


# ------------------------------------------------------ curation tables

_WORDS = ("batch part spark line column order small sort fast value scan "
          "a hash slow group agg filter query big key window row table "
          "stream merge data vector join plan cache node").split()
_LANGS = ("en", "en", "en", "de", "es", "fr", "zh")
_EVENT_TYPES = ("click", "signup", "error", "view", "purchase")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_SEGMENTS = ("MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING")


def write_curation_tables(out_dir: str, seed: int, n_orders: int = 15_000,
                          n_docs: int = 1_000, n_events: int = 10_000,
                          n_vecs: int = 500) -> dict:
    """Write the battery's tables as ``{out_dir}/{name}.parquet``.

    Shapes follow the TPC-H-ish star schema the queries are written
    against: ~4 lineitems per order, 10 orders per customer, words from
    a 34-word vocabulary with planted near-duplicate documents, and
    64-dim float embeddings drawn around 10 labelled centroids.
    Returns {table: rows}."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    g = np.random.default_rng([seed, 7])
    n_cust = max(n_orders // 10, 10)
    n_parts = max(n_orders // 7, 20)
    n_supp = max(n_orders // 150, 10)
    tables = {}

    def ts(base: str, lo: int, hi: int, size: int, unit: str):
        off = g.integers(lo, hi, size=size).astype(f"timedelta64[{unit}]")
        return (np.datetime64(base, "us") + off).astype("datetime64[us]")

    tables["customer"] = pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": g.integers(0, 25, size=n_cust).astype("int32"),
        "c_acctbal": g.uniform(-999.99, 9999.99, size=n_cust).round(2),
        "c_mktsegment": [_SEGMENTS[i] for i in
                         g.integers(0, 5, size=n_cust)],
    })
    tables["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(n_orders, dtype="int64"),
        # ~5% of customers place no order (q10's anti-join has rows)
        "o_custkey": g.integers(0, int(n_cust * 0.95),
                                size=n_orders).astype("int64"),
        "o_orderstatus": [("F", "O", "P")[i] for i in
                          g.integers(0, 3, size=n_orders)],
        "o_totalprice": g.uniform(1000, 500_000, size=n_orders).round(2),
        "o_orderdate": ts("1995-01-01", 0, 2400, n_orders, "D"),
        "o_orderpriority": [_PRIORITIES[i] for i in
                            g.integers(0, 5, size=n_orders)],
    })
    lines = g.integers(1, 8, size=n_orders)
    n_li = int(lines.sum())
    tables["lineitem"] = pd.DataFrame({
        "l_orderkey": np.repeat(np.arange(n_orders, dtype="int64"), lines),
        "l_partkey": g.integers(0, n_parts, size=n_li).astype("int64"),
        "l_suppkey": g.integers(0, n_supp, size=n_li).astype("int64"),
        "l_linenumber": np.concatenate(
            [np.arange(1, k + 1) for k in lines]).astype("int32"),
        "l_quantity": g.integers(1, 51, size=n_li).astype("float64"),
        "l_extendedprice": g.uniform(900, 105_000, size=n_li).round(2),
        "l_discount": (g.integers(0, 11, size=n_li) / 100).round(2),
        "l_tax": (g.integers(0, 9, size=n_li) / 100).round(2),
        "l_returnflag": [("A", "N", "R")[i] for i in
                         g.integers(0, 3, size=n_li)],
        "l_linestatus": [("F", "O")[i] for i in
                         g.integers(0, 2, size=n_li)],
        "l_shipdate": ts("1995-01-02", 0, 2500, n_li, "D"),
    })

    texts = []
    for i in range(n_docs):
        if i >= 10 and g.random() < 0.15:
            # planted near-duplicate: a copy with one word replaced
            src = texts[int(g.integers(0, i))].split(" ")
            src[int(g.integers(0, len(src)))] = _WORDS[
                int(g.integers(0, len(_WORDS)))]
            texts.append(" ".join(src))
        else:
            k = int(g.integers(8, 90))
            texts.append(" ".join(_WORDS[j] for j in
                                  g.integers(0, len(_WORDS), size=k)))
    tables["documents"] = pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype="int64"),
        "text": texts,
        "lang": [_LANGS[i] for i in g.integers(0, len(_LANGS), size=n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    })

    n_users = max(n_events // 60, 10)
    tables["events"] = pd.DataFrame({
        "event_id": np.arange(n_events, dtype="int64"),
        "ts": np.sort(ts("2024-01-01", 0, 30 * 86_400_000_000, n_events,
                         "us")),
        "user_id": g.integers(0, n_users, size=n_events).astype("int64"),
        "event_type": [_EVENT_TYPES[i] for i in
                       g.integers(0, 5, size=n_events)],
        "value": g.uniform(0.01, 490, size=n_events).round(2),
        "props": [f'{{"k": {k}}}' for k in
                  g.integers(0, 100, size=n_events)],
    })

    centroids = g.normal(0, 1, size=(10, 64))
    labels = g.integers(0, 10, size=n_vecs)
    vecs = centroids[labels] + g.normal(0, 0.9, size=(n_vecs, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    emb = pa.array(list(vecs.astype("float32")), type=pa.list_(pa.float32()))
    embeddings = pa.table({
        "vec_id": pa.array(np.arange(n_vecs, dtype="int64")),
        "embedding": emb,
        "label": pa.array(labels.astype("int32")),
    })

    for name, pdf in tables.items():
        pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False),
                       f"{out_dir}/{name}.parquet")
    pq.write_table(embeddings, f"{out_dir}/embeddings.parquet")
    rows = {k: len(v) for k, v in tables.items()}
    rows["embeddings"] = n_vecs
    return rows
