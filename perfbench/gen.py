"""Seeded input generators owned by the benchmark.

Plain NumPy/pyarrow: nothing here imports the program under test, so a
change to the program cannot change the inputs it is measured on. Every
generator takes a seed; the same seed gives byte-identical tables.
"""

from __future__ import annotations

import io
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The 7-key section vocabulary of the resume scorer, with the header
# spellings each key accepts. Kept here (not imported) so the resume
# inputs do not move when the program's vocabulary does.
SECTION_HEADERS: dict[str, tuple[str, ...]] = {
    "summary": ("Summary", "Objective", "About Me"),
    "experience": ("Experience", "Work History", "Professional Experience"),
    "skills": ("Skills", "Technologies", "Technical Skills"),
    "projects": ("Projects", "Portfolio"),
    "education": ("Education", "Academics"),
    "certifications": ("Certifications", "Qualifications", "Achievements", "Endorsements"),
    "strengths": ("Strengths", "Capabilities", "Abilities", "Merits"),
}
UNKNOWN_HEADERS = ("Hobbies", "References", "Languages", "Interests", "Volunteering", "Publications")
_HEADER_WORDS = tuple(
    h.lower() for hs in SECTION_HEADERS.values() for h in hs
)

_SYLLABLES = (
    "ba be bi bo bu da de di do du fa fe fi fo fu ga ge gi go gu ka ke ki ko ku "
    "la le li lo lu ma me mi mo mu na ne ni no nu pa pe pi po pu ra re ri ro ru "
    "sa se si so su ta te ti to tu va ve vi vo vu za ze zi zo zu"
).split()


def vocabulary(seed: int, n: int) -> list[str]:
    """``n`` distinct pronounceable words; none contains a section
    header word, so resume bodies never open a section by accident."""
    rng = np.random.default_rng([seed, 0xC0FFEE])
    words: dict[str, None] = {}
    while len(words) < n:
        k = int(rng.integers(2, 5))
        w = "".join(_SYLLABLES[i] for i in rng.integers(0, len(_SYLLABLES), k))
        if not any(h in w for h in _HEADER_WORDS):
            words[w] = None
    return list(words)


def _words(rng: np.random.Generator, vocab: list[str], n: int) -> list[str]:
    return [vocab[i] for i in rng.integers(0, len(vocab), n)]


def corpus(
    seed: int,
    n_docs: int,
    near_dup_frac: float = 0.10,
    exact_dup_frac: float = 0.02,
    min_tokens: int = 30,
    max_tokens: int = 160,
    vocab_size: int = 5000,
):
    """Document corpus with planted duplicates.

    Returns ``(table, near_pairs, exact_pairs)``: ``table`` has
    ``doc_id BIGINT, text STRING``; ``near_pairs`` are (original, copy)
    id pairs where the copy keeps each token with probability 0.92-0.97
    (word-set Jaccard about 0.9 or more); ``exact_pairs`` are
    (original, copy) pairs with identical text. Ids are shuffled so a
    copy is as likely to carry the lower id as the original.
    """
    rng = np.random.default_rng([seed, 1])
    vocab = vocabulary(seed, vocab_size)
    n_near = int(n_docs * near_dup_frac)
    n_exact = int(n_docs * exact_dup_frac)
    n_base = n_docs - n_near - n_exact
    texts: list[str] = []
    for _ in range(n_base):
        texts.append(" ".join(_words(rng, vocab, int(rng.integers(min_tokens, max_tokens + 1)))))
    near_src = rng.choice(n_base, n_near, replace=False)
    exact_src = rng.choice(n_base, n_exact, replace=False)
    origin: list[tuple[int, str]] = []
    for src in near_src:
        toks = texts[src].split(" ")
        keep = rng.random(len(toks)) < rng.uniform(0.92, 0.97)
        keep[0] = True
        texts.append(" ".join(t for t, k in zip(toks, keep) if k))
        origin.append((int(src), "near"))
    for src in exact_src:
        texts.append(texts[src])
        origin.append((int(src), "exact"))
    ids = rng.permutation(n_docs).astype(np.int64)
    near_pairs, exact_pairs = [], []
    for j, (src, kind) in enumerate(origin):
        pair = (int(ids[src]), int(ids[n_base + j]))
        (near_pairs if kind == "near" else exact_pairs).append(pair)
    order = np.argsort(ids, kind="stable")
    table = pa.table(
        {
            "doc_id": pa.array(ids[order], pa.int64()),
            "text": pa.array([texts[i] for i in order], pa.string()),
        }
    )
    return table, near_pairs, exact_pairs


def jd_stream(seed: int, n: int, n_tokens: int = 60, vocab_size: int = 5000) -> list[str]:
    """``n`` distinct job descriptions of ``n_tokens`` words each."""
    rng = np.random.default_rng([seed, 2])
    vocab = vocabulary(seed, vocab_size)
    out: dict[str, None] = {}
    while len(out) < n:
        out[" ".join(_words(rng, vocab, n_tokens))] = None
    return list(out)


def resumes(seed: int, n: int, vocab_size: int = 3000):
    """Resumes built on the 7-key section vocabulary.

    Each resume has 2-6 sections under a random header spelling and
    case, followed by ``:`` or a newline. About 40% open with text before
    the first header, 15% repeat one section (the later one wins), 20%
    carry an unknown header whose text folds into the previous section,
    and about 5% have no known section at all.

    Returns ``(table, jd_text, n_with_sections)``: ``table`` has
    ``doc_id BIGINT, text STRING``; ``n_with_sections`` is the number of
    resumes the scorer should give a score.
    """
    rng = np.random.default_rng([seed, 3])
    vocab = vocabulary(seed, vocab_size)
    jd_vocab = vocab[:400]
    jd_text = " ".join(_words(rng, jd_vocab, 60))
    keys = list(SECTION_HEADERS)
    texts, n_with = [], 0
    for _ in range(n):
        parts: list[str] = []
        if rng.random() < 0.4:
            parts.append(" ".join(_words(rng, vocab, int(rng.integers(3, 12)))) + "\n")
        if rng.random() < 0.05:
            for h in rng.choice(len(UNKNOWN_HEADERS), int(rng.integers(1, 3)), replace=False):
                body = " ".join(_words(rng, vocab, int(rng.integers(5, 30))))
                parts.append(f"{UNKNOWN_HEADERS[h]}:\n{body}\n")
        else:
            n_with += 1
            chosen = [keys[i] for i in rng.choice(len(keys), int(rng.integers(2, 7)), replace=False)]
            if rng.random() < 0.15:
                chosen.append(chosen[int(rng.integers(0, len(chosen)))])
            unknown_at = int(rng.integers(1, len(chosen) + 1)) if rng.random() < 0.2 else -1
            for i, key in enumerate(chosen):
                if i == unknown_at:
                    h = UNKNOWN_HEADERS[int(rng.integers(0, len(UNKNOWN_HEADERS)))]
                    parts.append(f"{h}: " + " ".join(_words(rng, vocab, 6)) + "\n")
                spellings = SECTION_HEADERS[key]
                header = spellings[int(rng.integers(0, len(spellings)))]
                header = (header, header.upper(), header.lower())[int(rng.integers(0, 3))]
                sep = ":\n" if rng.random() < 0.7 else "\n"
                # Bodies mix JD words in so the stub's overlap scores spread over 0-10.
                n_words = int(rng.integers(8, 40))
                body = _words(rng, vocab, n_words)
                for j in rng.integers(0, n_words, int(rng.integers(0, 12))):
                    body[j] = jd_vocab[int(rng.integers(0, len(jd_vocab)))]
                parts.append(f"{header}{sep}{' '.join(body)}\n")
            if unknown_at == len(chosen):
                parts.append(f"{UNKNOWN_HEADERS[0]}: " + " ".join(_words(rng, vocab, 6)) + "\n")
        texts.append("".join(parts))
    table = pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64), pa.int64()),
            "text": pa.array(texts, pa.string()),
        }
    )
    return table, jd_text, n_with


# --- relational + corpus fixture tables for the registry queries ----------

_DOC_WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the value "
    "vector window"
).split()
FIXTURE_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
_PART_ADJ = "blue cold hot large new old red small".split()
_PART_NOUN = "anvil bolt gear gizmo plate ring rod widget".split()
_DAY_NS = 86_400 * 10**9


def _days(rng, start: str, end: str, n: int) -> np.ndarray:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return rng.integers(lo, hi + 1, n)


def fixture_tables(seed: int, scale: float = 1.0) -> dict[str, pa.Table]:
    """The ten fixture tables the registry queries read, with the same
    schemas and value domains as the fixtures in FIXTURES.md. ``scale=1``
    gives 60k lineitems, 15k orders and 500 documents/embeddings."""
    rng = np.random.default_rng([seed, 4])
    n_cust, n_supp, n_part = int(1500 * scale), max(10, int(100 * scale)), int(2000 * scale)
    n_ord, n_li, n_ev = int(15000 * scale), int(60000 * scale), int(10000 * scale)
    n_doc = max(50, int(500 * scale))

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": money(-999.99, 9999.99, n_cust),
            "c_mktsegment": segments[rng.integers(0, 5, n_cust)],
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": money(-999.99, 9999.99, n_supp),
        }
    )
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    pk = np.arange(n_part)
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(pk, pa.int64()),
            "p_name": [
                f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": types[rng.integers(0, 6, n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": money(1000.0, 500000.0, n_ord),
            "o_orderdate": pa.array(
                _days(rng, "1995-01-01", "2001-08-01", n_ord) * 86_400_000, pa.timestamp("ms")
            ),
            "o_orderpriority": np.array(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
            )[rng.integers(0, 5, n_ord)],
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": money(900.0, 105000.0, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
            "l_shipdate": pa.array(
                _days(rng, "1995-01-02", "2001-11-04", n_li) * 86_400_000, pa.timestamp("ms")
            ),
        }
    )
    # events: microsecond-precision instants stored as TIMESTAMP(NANOS).
    us = np.sort(rng.integers(0, 30 * 86_400 * 10**6, n_ev)) + np.datetime64(
        "2024-01-01", "us"
    ).astype(np.int64)
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": pa.array(us * 1000, pa.timestamp("ns")),
            "user_id": pa.array(rng.integers(0, 150, n_ev), pa.int64()),
            "event_type": np.array(["click", "error", "purchase", "signup", "view"])[
                rng.integers(0, 5, n_ev)
            ],
            "value": np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01),
            "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)],
        }
    )
    texts = [
        " ".join(_DOC_WORDS[i] for i in rng.integers(0, len(_DOC_WORDS), rng.integers(10, 101)))
        for _ in range(n_doc)
    ]
    for i in np.flatnonzero(rng.random(n_doc) < 0.05):
        texts[i] = texts[int(rng.integers(0, n_doc))] + " dup"
    langs = np.array(["en", "en", "en", "de", "es", "fr", "zh"])
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_doc), pa.int64()),
            "text": texts,
            "lang": langs[rng.integers(0, len(langs), n_doc)],
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": pa.array([len(x) for x in texts], pa.int64()),
        }
    )
    centroids = rng.normal(size=(10, 64))
    centroids *= 0.14 / np.linalg.norm(centroids, axis=1, keepdims=True)
    labels = rng.integers(0, 10, n_doc)
    vecs = centroids[labels] + rng.normal(scale=1 / 8, size=(n_doc, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_doc), pa.int64()),
            "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    return t


def parquet_bytes(table: pa.Table) -> bytes:
    """The exact bytes ``write_table`` puts on disk for ``table``."""
    buf = io.BytesIO()
    pq.write_table(table, buf, compression="snappy")
    return buf.getvalue()


def write_table(table: pa.Table, path: str) -> int:
    """Write ``table`` as one parquet file; returns its size in bytes."""
    data = parquet_bytes(table)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as f:
        f.write(data)
    return len(data)


def write_parts(table: pa.Table, path: str, n_parts: int) -> int:
    """Write ``table`` as a directory of ``n_parts`` parquet files of
    consecutive rows, as a corpus arrives from many writers; returns the
    total size in bytes."""
    total, step = 0, -(-table.num_rows // n_parts)
    for i in range(n_parts):
        total += write_table(table.slice(i * step, step), f"{path}/part-{i:05d}.parquet")
    return total


