"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed (and size arguments), so the
same seed always yields the same inputs.  The program under test receives
only what these functions produce.  Nothing here imports the package:
callers pass the corpus vocabulary (``oracles.VOCAB``, which the DuckDB
oracles embed), and pages come from ``sources.pages.gen_row`` over the row
window ``page_window`` picks.

Tables are written as single-file parquet with the column names and types
of the repository's synthetic test tables (``documents``, ``embeddings``,
``orders``, ``lineitem``, ``supplier``, ``nation``), so the registered
queries and their oracles run on them unchanged.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Every distribution below is fitted to the repository's synthetic test
# tables (sf0.01 and sf0.1), measured with DuckDB:
#   documents   10-99 words (uniform) drawn uniformly from the 30 words of
#               the vocabulary other than ``dup``: each word is 3.3% of all
#               tokens and occurs in 76-78% of the docs at sf0.1.  5% of the
#               docs (250 of 5,000; 25 of 500) are another doc's text plus
#               `` dup``.  lang en 41%, zh/es/fr/de 15% each; source is
#               ``src{doc_id % 20}``; n_chars is the text length.
#   embeddings  64-dim unit vectors in no clusters (std 1/8 per component;
#               cosine to the label centroid 0.06-0.07; no pair above 0.9)
#               with a uniform label in 0-9.
#   TPC-H       n orders: custkey < n/10, total price U(1000, 500000),
#               order date U(1995-01-01, 2001-08-01), status and priority
#               uniform.  4n line items whose columns are drawn
#               independently: orderkey < n (so lines per order are about
#               Poisson(4)), partkey < 2n/15, suppkey < n/150, line number
#               1-7, quantity 1-50, extended price U(900, 105000), discount
#               0-0.10 and tax 0-0.08 in steps of 0.01, uniform flags, ship
#               date U(1995-01-02, 2001-11-04).  n/150 suppliers with
#               nation 0-24 and balance U(-999.99, 9999.99); 25 nations.
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
DOC_WORDS = (10, 99)
DUP_SHARE = 20  # one doc in twenty is a near-duplicate


def _rng(seed: int, stream: str) -> np.random.Generator:
    # one independent stream per input kind, so adding a draw to one
    # generator never shifts another's values
    tag = int.from_bytes(stream.encode()[:8].ljust(8, b"\0"), "little")
    return np.random.default_rng([seed, tag])


def documents_table(seed: int, n: int, vocab: list[str]) -> pa.Table:
    """``documents(doc_id, text, lang, source, n_chars)``, fitted to the
    test tables (see the figures above): uniform lengths and words, and
    ``n // 20`` seeded docs that copy another doc's text plus `` dup`` so
    the dedup leaves find real pairs."""
    rng = _rng(seed, "docs")
    words = np.array([w for w in vocab if w != "dup"])
    lens = rng.integers(DOC_WORDS[0], DOC_WORDS[1] + 1, size=n)
    texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in lens]
    dups = rng.choice(n, size=n // DUP_SHARE, replace=False)
    originals = np.setdiff1d(np.arange(n), dups)
    for i, j in zip(dups, rng.choice(originals, size=len(dups))):
        texts[i] = texts[j] + " dup"
    langs = rng.choice(LANGS, size=n, p=LANG_P)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(langs.tolist()),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def embeddings_table(seed: int, n: int, dim: int = 64, k: int = 10) -> pa.Table:
    """``embeddings(vec_id, embedding, label)``: isotropic unit vectors and
    a uniform label in ``0..k-1``, as in the test tables."""
    rng = _rng(seed, "emb")
    vecs = rng.normal(size=(n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, k, size=n).astype(np.int32)),
        }
    )


def _days(rng: np.random.Generator, first: datetime, last: datetime, m: int) -> pa.Array:
    span = (last - first).days + 1
    return pa.array(
        [first + timedelta(days=int(d)) for d in rng.integers(0, span, size=m)],
        pa.timestamp("us"),
    )


def tpch_tables(seed: int, n_orders: int) -> dict[str, pa.Table]:
    """The ``orders``/``lineitem``/``supplier``/``nation`` slice of the
    star schema at ``n_orders`` orders, sized and drawn as the test tables
    are (see the figures above)."""
    rng = _rng(seed, "tpch")
    n_supp = max(1, n_orders // 150)
    orders = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_orders, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, max(1, n_orders // 10), n_orders)),
            "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_orders).tolist()),
            "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, n_orders), 2)),
            "o_orderdate": _days(rng, datetime(1995, 1, 1), datetime(2001, 8, 1), n_orders),
            "o_orderpriority": pa.array(
                rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                            "5-LOW"], n_orders).tolist()
            ),
        }
    )
    m = 4 * n_orders
    lineitem = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_orders, m)),
            "l_partkey": pa.array(rng.integers(0, max(1, 2 * n_orders // 15), m)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, m)),
            "l_linenumber": pa.array(rng.integers(1, 8, m).astype(np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, m).astype(np.float64)),
            "l_extendedprice": pa.array(np.round(rng.uniform(900, 105000, m), 2)),
            "l_discount": pa.array(np.round(rng.integers(0, 11, m) / 100, 2)),
            "l_tax": pa.array(np.round(rng.integers(0, 9, m) / 100, 2)),
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], m).tolist()),
            "l_linestatus": pa.array(rng.choice(["F", "O"], m).tolist()),
            "l_shipdate": _days(rng, datetime(1995, 1, 2), datetime(2001, 11, 4), m),
        }
    )
    supplier = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
            "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)),
        }
    )
    nation = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
        }
    )
    return {"orders": orders, "lineitem": lineitem, "supplier": supplier,
            "nation": nation}


def write_tables(out_dir: str, tables: dict[str, pa.Table]) -> str:
    """One ``<name>.parquet`` file (one row group) per table."""
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


def page_window(seed: int, n: int) -> tuple[int, int]:
    """Row-id window ``[lo, lo + n)`` for ``sources.pages.gen_row``.  The
    generator is a pure function of the id, so shifting the window changes
    the urls and payload text but not their distribution.  ``lo`` is a
    multiple of 8 so every window holds the same mix of the eight payload
    cases, and exactly ``n // 8`` of them fail extraction."""
    return 8 * int(_rng(seed, "pages").integers(0, 1_000_000)), n


# ------------------------------------------------------------- keystrokes


TYPED = 3  # longest prefix typed as a keystroke
SHAPES = ["or", "and", "phrase", "near", "lovehate", "wildcard"]
BLOCK = len(SHAPES) + TYPED  # requests in one block of a keystroke session
KEYWORDS = {"and", "or", "xor", "near", "adj", "filter", "phrase", "synonym",
            "scaled", "range", "elite"}


@dataclass(frozen=True)
class Request:
    """One client request: the query string, whether it is sent with
    FLAG_PARTIAL (an incremental keystroke) and the oracle function that
    checks it, with that function's arguments."""

    query: str
    partial: bool
    oracle: str
    args: tuple


def finished_query(shape: str, a: str, b: str, c: str) -> Request:
    """The finished query of ``shape`` over the words ``a``, ``b``, ``c``."""
    if shape == "or":
        return Request(f"{a} {b}", False, "bm25_topk", ((a, b),))
    if shape == "and":
        return Request(f"{a} AND {b}", False, "bool_op", ("and", (a,), (b,)))
    if shape == "phrase":
        return Request(f'"{a} {b}"', False, "phrase", ((a, b),))
    if shape == "near":
        return Request(f"{a} NEAR {b}", False, "near", ((a, b), 11))
    if shape == "lovehate":
        return Request(f"+{a} {b} -{c}", False, "lovehate", ((a,), (b,), (c,)))
    return Request(f"{a[:2]}*", False, "wildcard", (a[:2],))


def keystroke_session(seed: int, vocab: list[str], n_blocks: int) -> list[Request]:
    """A closed-loop TUI session of ``n_blocks`` blocks of ``BLOCK``
    requests.  A block holds one finished query of each of the six shapes
    that have a DuckDB oracle function: free-text OR, AND, phrase, NEAR,
    love/hate and a trailing-``*`` wildcard, in that order.  The first
    three are typed: one keystroke, the 1-, 2- and 3-letter prefix of the
    query's first word, goes out with ``partial=True`` (checked by the
    ``partial`` oracle) before the query is sent whole.  The other three
    are sent whole at once.  Every block has the same mix; the seed picks
    the words.

    The parser matches operator keywords in any case, as the reference
    does, so a word or prefix such as ``or`` or ``filter`` compiles to an
    operator with no operand.  No oracle function covers that shape, so
    words with such a prefix are not used."""
    rng = _rng(seed, "keys")
    words = [
        w for w in vocab
        if w != "dup" and len(w) >= TYPED
        and not any(w[:j] in KEYWORDS for j in range(1, len(w) + 1))
    ]
    out: list[Request] = []
    for _ in range(n_blocks):
        for qi, shape in enumerate(SHAPES):
            a, b, c = (str(w) for w in rng.choice(words, size=3, replace=False))
            if qi < TYPED:
                out.append(Request(a[: qi + 1], True, "partial", (a[: qi + 1],)))
            out.append(finished_query(shape, a, b, c))
    return out


# ---------------------------------------------------------------- upserts


def edit_words(seed: int, batch: int, n: int) -> list[str]:
    """``n`` seeded edit words for upsert batch ``batch``: ``q`` and seven
    consonants, a token no generated page contains, so each is findable
    only through the edit that introduced it."""
    rng = np.random.default_rng([seed, batch, 5])
    letters = np.array(list("bcdfghjklmnpqrstvwxz"))
    return ["q" + "".join(rng.choice(letters, 7)) for _ in range(n)]


def upsert_ids(seed: int, batch: int, lo: int, n_pages: int, size: int) -> list[int]:
    """Row ids (inside the indexed window) of the pages batch ``batch``
    edits.  Only the frontmatter payload cases (``i % 8`` in 0-4), whose
    body text is plain, so an appended word is one more indexed term."""
    rng = np.random.default_rng([seed, batch, 7])
    pool = [lo + i for i in range(n_pages) if (lo + i) % 8 <= 4]
    return sorted(int(x) for x in rng.choice(pool, size=size, replace=False))
