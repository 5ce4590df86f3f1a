"""Seeded input generator for the engine benchmark.

Writes parquet tables whose schemas match the corpus layout the
engine reads (FIXTURES.md §2): one ``<table>.parquet`` file per
table in an output directory, foreign keys valid, timestamps as
naive microsecond values. The same seed and scale give byte-identical
files; every table draws from its own seeded stream, so adding a
table never changes another.

Each generator returns the properties of what it wrote (rows, bytes,
planted shares, skew), which the benchmark prints beside its metrics
and uses as the expected values of its output checks.

Usage: python3 perfbench/gen.py <etl|star|docs> <seed> <out_dir> [scale]
"""

from __future__ import annotations

import json
import os
import re
import sys
from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "red", "green", "small", "large", "shiny", "matte", "tiny"]
PART_NOUN = ["anvil", "bolt", "ring", "widget", "gear", "spring", "valve", "cog"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

# Marker words the engine's language heuristic counts
# (functions.text.LANG_MARKERS). Each language's documents use only
# markers no other language shares, so the predicted language is the
# planted one; "zh" documents carry no markers and are filtered out.
DOC_MARKERS = {
    "en": ["the", "and", "of", "to", "is"],
    "de": ["der", "die", "und", "ist", "nicht"],
    "fr": ["le", "et", "les", "est"],
    "es": ["el", "que", "es"],
    "zh": [],
}
DOC_LANG_WEIGHTS = {"en": 0.4, "de": 0.15, "fr": 0.15, "es": 0.15, "zh": 0.15}
ALL_MARKERS = {w for ws in DOC_MARKERS.values() for w in ws} | {"la", "de", "a"}

EPOCH_DAY = np.datetime64("1970-01-01", "D")

# Scale 1.0 of each input; the benchmark passes smaller scales.
ETL_ROWS = 3_000_000
STAR_SF = 0.1
DOCS = 10_000


def _rng(seed: int, stream: str) -> np.random.Generator:
    """An independent deterministic stream per (seed, table)."""
    key = [seed & 0xFFFFFFFF] + [ord(c) for c in stream]
    return np.random.default_rng(np.random.SeedSequence(key))


def _write(table: pa.Table, out_dir: str, name: str) -> int:
    path = os.path.join(out_dir, f"{name}.parquet")
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 20)
    return os.path.getsize(path)


def _days(start: str, n: int, span_days: int, rng: np.random.Generator):
    base = (np.datetime64(start, "D") - EPOCH_DAY).astype(np.int64)
    days = base + rng.integers(0, span_days + 1, n)
    return pa.array(days * 86_400_000_000, pa.timestamp("us"))


def _money(rng: np.random.Generator, low: float, high: float, n: int):
    return np.round(rng.uniform(low, high, n), 2)


def _group_skew(values) -> float:
    """Largest group's share over the mean group share (1.0 = even)."""
    counts = np.array(list(Counter(values).values()), dtype=float)
    return float(counts.max() / counts.mean()) if len(counts) else 0.0


def _skewed_keys(rng: np.random.Generator, n: int, domain: int) -> np.ndarray:
    """Keys in [0, domain): 70% uniform, 30% Zipf-distributed hot keys."""
    keys = rng.integers(0, domain, n)
    hot = rng.random(n) < 0.3
    keys[hot] = (rng.zipf(1.3, int(hot.sum())) - 1) % domain
    return keys


def _lineitem(
    rng: np.random.Generator,
    order_lines: np.ndarray,
    n_part: int,
    n_supp: int,
    planted: bool,
) -> tuple[pa.Table, dict]:
    """Lineitem rows for orders 0..len(order_lines)-1, ``order_lines[o]``
    lines each. With ``planted``, prices follow a tight bulk so that a
    planted share of valid-range rows lies beyond the Tukey fences, and
    a planted share of rows breaks the cleaning ranges."""
    n = int(order_lines.sum())
    orderkey = np.repeat(np.arange(len(order_lines), dtype=np.int64), order_lines)
    starts = np.cumsum(order_lines) - order_lines
    linenumber = (np.arange(n) - np.repeat(starts, order_lines) + 1).astype(np.int32)
    quantity = rng.integers(1, 50, n).astype(np.float64)
    discount = rng.integers(0, 11, n) / 100.0
    props: dict = {}
    if planted:
        price = np.round(np.clip(rng.normal(30_000, 6_000, n), 900, 60_000), 2)
        outlier = rng.random(n) < 0.02
        price[outlier] = _money(rng, 70_000, 99_999, int(outlier.sum()))
        violation = rng.random(n) < 0.03
        kind = rng.integers(0, 3, n)
        bad_price = violation & (kind == 0)
        bad_qty = violation & (kind == 1)
        bad_disc = violation & (kind == 2)
        price[bad_price] = _money(rng, 100_001, 150_000, int(bad_price.sum()))
        quantity[bad_qty] = rng.integers(50, 120, int(bad_qty.sum()))
        discount[bad_disc] = rng.integers(9, 16, int(bad_disc.sum())) / 100.0
        props = {
            "planted_outlier_share": round(float((outlier & ~violation).mean()), 6),
            "planted_violation_share": round(float(violation.mean()), 6),
        }
    else:
        price = _money(rng, 900, 105_000, n)
    flags = np.array(["A", "N", "R"])[rng.choice(3, n, p=[0.5, 0.25, 0.25])]
    table = pa.table(
        {
            "l_orderkey": pa.array(orderkey, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n), pa.int64()),
            "l_suppkey": pa.array(_skewed_keys(rng, n, n_supp), pa.int64()),
            "l_linenumber": pa.array(linenumber, pa.int32()),
            "l_quantity": pa.array(quantity, pa.float64()),
            "l_extendedprice": pa.array(price, pa.float64()),
            "l_discount": pa.array(discount, pa.float64()),
            "l_tax": pa.array(rng.integers(0, 9, n) / 100.0, pa.float64()),
            "l_returnflag": pa.array(flags, pa.string()),
            "l_linestatus": pa.array(
                np.array(["F", "O"])[rng.integers(0, 2, n)], pa.string()
            ),
            "l_shipdate": _days("1995-01-02", n, 2498, rng),
        }
    )
    props["returnflag_skew"] = round(_group_skew(flags), 4)
    return table, props


def gen_etl(seed: int, out_dir: str, scale: float = 0.1) -> dict:
    """A lineitem-shaped table of about ``scale * 3M`` rows with planted
    range violations and IQR outliers (the ``etl_batch`` input)."""
    os.makedirs(out_dir, exist_ok=True)
    rng = _rng(seed, "etl_lineitem")
    n_orders = max(1, int(ETL_ROWS * scale / 4))
    lines = rng.integers(1, 8, n_orders)
    table, props = _lineitem(rng, lines, 20_000, 1_000, planted=True)
    # exact duplicate rows for the validation layer's duplicate count
    dups = np.sort(rng.choice(table.num_rows, table.num_rows // 200, replace=False))
    table = pa.concat_tables([table, table.take(dups)])
    props.update(
        rows=table.num_rows,
        bytes=_write(table, out_dir, "lineitem"),
        planted_exact_dup_share=round(len(dups) / table.num_rows, 6),
    )
    return {"lineitem": props}


def gen_star(seed: int, out_dir: str, scale: float = 0.1) -> dict:
    """The relational star schema at ``scale * sf0.1`` (the
    ``report_queries`` input): region, nation, customer, supplier,
    part, orders, lineitem, events."""
    os.makedirs(out_dir, exist_ok=True)
    sf = STAR_SF * scale
    n_cust = max(50, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(50, int(200_000 * sf))
    n_orders = max(100, int(1_500_000 * sf))
    n_events = max(100, int(1_000_000 * sf))
    n_users = max(10, int(15_000 * sf))
    out: dict = {}

    def put(name: str, table: pa.Table, **props) -> None:
        out[name] = {"rows": table.num_rows, "bytes": _write(table, out_dir, name), **props}

    put("region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS, pa.string()),
    }))
    put("nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }))

    rng = _rng(seed, "customer")
    nations = rng.integers(0, 25, n_cust)
    put("customer", pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], pa.string()),
        "c_nationkey": pa.array(nations, pa.int32()),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust), pa.float64()),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n_cust)], pa.string()),
    }))

    rng = _rng(seed, "supplier")
    put("supplier", pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp), pa.float64()),
    }))

    rng = _rng(seed, "part")
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    put("part", pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": pa.array(np.array(names)[rng.integers(0, len(names), n_part)], pa.string()),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)], pa.string()),
        "p_type": pa.array(np.array(PART_TYPES)[rng.integers(0, 6, n_part)], pa.string()),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(900.0 + (np.arange(n_part) % 1000) / 10.0, pa.float64()),
    }))

    rng = _rng(seed, "orders")
    # every third customer never orders (outer-join and NOT EXISTS paths)
    active = np.arange(n_cust)[np.arange(n_cust) % 3 != 0]
    custkey = active[_skewed_keys(rng, n_orders, len(active))]
    put("orders", pa.table({
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(custkey, pa.int64()),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_orders)], pa.string()),
        "o_totalprice": pa.array(_money(rng, 1000, 500_000, n_orders), pa.float64()),
        "o_orderdate": _days("1995-01-01", n_orders, 2404, rng),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n_orders)], pa.string()),
    }), custkey_skew=round(_group_skew(custkey.tolist()), 4))

    rng = _rng(seed, "lineitem")
    lines = rng.integers(1, 8, n_orders)
    table, props = _lineitem(rng, lines, n_part, n_supp, planted=False)
    put("lineitem", table, **props)

    rng = _rng(seed, "events")
    users = _skewed_keys(rng, n_events, n_users)
    ts = np.sort(rng.integers(0, 30 * 86_400_000_000, n_events))
    base = (np.datetime64("2024-01-01", "D") - EPOCH_DAY).astype(np.int64) * 86_400_000_000
    put("events", pa.table({
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": pa.array(base + ts, pa.timestamp("us")),
        "user_id": pa.array(users, pa.int64()),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n_events)], pa.string()),
        "value": pa.array(np.round(rng.exponential(40.0, n_events), 2), pa.float64()),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)], pa.string()),
    }), user_skew=round(_group_skew(users.tolist()), 4))
    return out


def _vocabulary(rng: np.random.Generator, size: int) -> list[str]:
    """Random words; a word's length is a fixed function of its
    frequency rank, so text and shingle volumes match across seeds."""
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words: list[str] = []
    seen = set(ALL_MARKERS)
    while len(words) < size:
        w = "".join(letters[rng.integers(0, 26, 3 + len(words) * 5 % 7)])
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def _doc_text(rng, lang: str, vocab: list[str], zipf_p: np.ndarray) -> list[str]:
    n_tok = int(rng.integers(30, 70))
    toks = [vocab[i] for i in rng.choice(len(vocab), n_tok, p=zipf_p)]
    markers = DOC_MARKERS[lang]
    for _ in range(max(3, n_tok // 6) if markers else 0):
        toks.insert(int(rng.integers(0, len(toks) + 1)), markers[int(rng.integers(0, len(markers)))])
    return toks


def _shingles(text: str, n: int = 5) -> set[str]:
    norm = re.sub(r"\s+", " ", text.lower()).strip()
    return {norm[i : i + n] for i in range(len(norm) - n + 1)}


def _jaccard(a: str, b: str) -> float:
    sa, sb = _shingles(a), _shingles(b)
    return len(sa & sb) / len(sa | sb) if sa | sb else 0.0


FAMILY_SIZE = 4  # a near-dup family: one document and three variants


def gen_docs(seed: int, out_dir: str, scale: float = 0.1) -> dict:
    """``scale * 10K`` documents (the ``doc_dedup`` input) with a
    Zipf-drawn vocabulary of thousands of words. Fixed shares, placed
    by the seed: 4% are exact duplicates (re-cased or re-spaced copies
    of earlier documents) and 16% sit in near-duplicate families whose
    variants differ from the family's first document by a few word
    edits. Languages come in fixed proportions, so every seed gives
    the pipeline the same amount of work at each stage."""
    os.makedirs(out_dir, exist_ok=True)
    rng = _rng(seed, "documents")
    vocab = _vocabulary(rng, 4000)
    ranks = np.arange(1, len(vocab) + 1, dtype=float)
    zipf_p = ranks**-1.0 / (ranks**-1.0).sum()
    n_docs = max(40, int(DOCS * scale))
    n_exact = n_docs // 25
    n_families = n_docs * 4 // 100
    n_units = n_docs - n_exact - n_families * (FAMILY_SIZE - 1)
    # one language per unit (single document or family), in fixed
    # counts among families and among single documents alike
    is_family = np.zeros(n_units, bool)
    is_family[rng.choice(n_units, n_families, replace=False)] = True
    unit_langs = np.empty(n_units, object)
    for mask in (is_family, ~is_family):
        n = int(mask.sum())
        counts = [int(n * w) for w in DOC_LANG_WEIGHTS.values()]
        counts[0] += n - sum(counts)
        unit_langs[mask] = rng.permutation(np.repeat(list(DOC_LANG_WEIGHTS), counts))

    texts: list[str] = []
    doc_langs: list[str] = []
    singles: list[int] = []
    n_eligible_variants = 0
    for lang, family in zip(unit_langs, is_family):
        toks = _doc_text(rng, lang, vocab, zipf_p)
        base = " ".join(toks)
        texts.append(base)
        doc_langs.append(lang)
        if not family:
            singles.append(len(texts) - 1)
            continue
        made = 0
        while made < FAMILY_SIZE - 1:
            var = list(toks)
            for _ in range(int(rng.integers(1, 3))):
                var[int(rng.integers(0, len(var)))] = vocab[int(rng.integers(0, len(vocab)))]
            text = " ".join(var)
            if text in texts[-made - 1 :] or _jaccard(text, base) < 0.7:
                continue
            texts.append(text)
            doc_langs.append(lang)
            made += 1
        n_eligible_variants += (FAMILY_SIZE - 1) * (lang != "zh")
    # exact duplicates: copies of distinct single documents, appended
    # so that the original keeps the lower id
    n_exact_eligible = 0
    for src in sorted(rng.choice(singles, n_exact, replace=False)):
        copy = texts[src].upper() if rng.random() < 0.5 else texts[src].replace(" ", "  ")
        texts.append(copy)
        doc_langs.append(doc_langs[src])
        n_exact_eligible += doc_langs[src] != "zh"

    table = pa.table({
        "doc_id": pa.array(np.arange(len(texts)), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(doc_langs, pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(len(texts))], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    vocab_shingles: set[str] = set()
    for t in texts:
        vocab_shingles |= _shingles(t)
    n_variants = n_families * (FAMILY_SIZE - 1)
    props = {
        "rows": table.num_rows,
        "bytes": _write(table, out_dir, "documents"),
        "kept_lang_docs": sum(lang != "zh" for lang in doc_langs),
        "planted_exact_dups": n_exact,
        "exact_dups_kept_lang": n_exact_eligible,
        "planted_near_dups": n_variants,
        "near_dups_kept_lang": n_eligible_variants,
        "planted_exact_dup_share": round(n_exact / len(texts), 6),
        "planted_near_dup_share": round(n_variants / len(texts), 6),
        "distinct_shingles": len(vocab_shingles),
        "lang_skew": round(_group_skew(doc_langs), 4),
    }
    return {"documents": props}


GENERATORS = {"etl": gen_etl, "star": gen_star, "docs": gen_docs}


if __name__ == "__main__":
    kind, seed, out = sys.argv[1], int(sys.argv[2]), sys.argv[3]
    scale = float(sys.argv[4]) if len(sys.argv) > 4 else 0.1
    print(json.dumps(GENERATORS[kind](seed, out, scale), indent=1))
