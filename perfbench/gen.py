"""Seeded input generators.

Every input a workload hands to the program comes from here, so the same
seed gives the same inputs.  Each generator also returns the measured share
of every input property the workloads vary, for the run's report.

Page text follows the ``documents`` table of the repository's sf fixtures
(TESTDATA.md): 10-100 words drawn uniformly from its 31-word vocabulary,
which gives the fixtures' n_chars spread of about 45-580 characters.  The
remaining shares (fetch failures, request mix, curation defects) are not
measured from any traffic; README.md gives the reason for each.
"""

from __future__ import annotations

import hashlib
import os
import random
from dataclasses import dataclass, field

# The eight crawlers of the reference (coldata's crawler registry).
SOURCES = (
    "UCI",
    "Kaggle",
    "AWS",
    "PapersWithCode",
    "OpenDataLab",
    "IEEEDataPort",
    "HuggingFace",
    "BrainDataSciencePlatform",
)

# The token vocabulary of the sf fixtures' `documents` table.
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
MIN_WORDS, MAX_WORDS = 10, 100  # words per page in the sf `documents` table

CHUNK_SIZE = 128  # coldata_spark.functions.text chunk geometry (reference
CHUNK_STRIDE = 64  # chunk_size=128, chunk_overlap=64)

INGEST_DOCS_PER_SOURCE = 15
INGEST_FAIL_FIRST = 0.20  # share of each pass's new URLs whose first fetch fails
REFRESH_NEW_SHARE = 0.05  # new URLs per refresh pass, over the store size

SEARCH_DOCS = 200
SEARCH_BATCH = 32
QUERY_WORDS = 5

CURATE_DOCS = 600
CURATE_BENCH = 20  # doc_id < 20 is the held-out benchmark set (q169)
CURATE_SHARES = {  # of the training docs (doc_id >= 20)
    "exact_dup": 0.08,
    "near_dup": 0.08,
    "non_english": 0.15,
    "low_quality": 0.05,
    "contaminated": 0.04,
}
HOT_BUCKET_DOCS = 70  # boilerplate docs: above the default max_bucket_size 64
# Marker words of the non-English languages coldata_spark's language gate
# scores (functions.text.LANG_MARKERS).
FOREIGN_MARKERS = {
    "fr": ("le", "la", "et", "les", "des"),
    "es": ("el", "los", "de", "que", "y"),
    "de": ("der", "die", "und", "das", "ist"),
}

SF_ROWS = {  # the sf0.01 fixture's row counts
    "customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
    "lineitem": 60000, "events": 10000, "documents": 500,
}


def n_chunks(text: str) -> int:
    """Chunks build_index cuts from ``text``: 1 + ceil(max(0, len-128)/64)."""
    extra = max(0, len(text) - CHUNK_SIZE)
    return 1 + -(-extra // CHUNK_STRIDE)


def words(rng: random.Random, lo: int = MIN_WORDS, hi: int = MAX_WORDS) -> list[str]:
    return [rng.choice(VOCAB) for _ in range(rng.randint(lo, hi))]


def page_text(rng: random.Random) -> str:
    return " ".join(words(rng))


def _url(rng: random.Random, source: str) -> str:
    return f"https://{source.lower()}.example/datasets/{rng.getrandbits(48):012x}"


def sha256_hex(s: str) -> str:
    return hashlib.sha256(s.encode("utf-8")).hexdigest()


# --------------------------------------------------------------------- crawl


@dataclass
class Crawl:
    """The listing behind the base store, and refresh deltas made on demand
    (``refresh(n)``), each listing ~5% new URLs over the store so far."""

    seed: int
    base: dict[str, list[str]] = field(init=False)
    pages: dict[str, str] = field(init=False)
    fail_first: set[str] = field(init=False)
    deltas: list[dict[str, list[str]]] = field(init=False)

    def __post_init__(self):
        self._rng = random.Random(f"ingest-{self.seed}")
        self.base = {s: [_url(self._rng, s) for _ in range(INGEST_DOCS_PER_SOURCE)] for s in SOURCES}
        self.pages = {u: page_text(self._rng) for us in self.base.values() for u in us}
        self.fail_first, self.deltas = set(), []

    def refresh(self, n: int) -> dict[str, list[str]]:
        """The URLs refresh pass ``n`` adds, per source."""
        rng = self._rng
        while len(self.deltas) <= n:
            n_new = max(1, round(REFRESH_NEW_SHARE * len(self.pages)))
            delta: dict[str, list[str]] = {s: [] for s in SOURCES}
            new = []
            for _ in range(n_new):
                s = rng.choice(SOURCES)
                new.append(_url(rng, s))
                delta[s].append(new[-1])
                self.pages[new[-1]] = page_text(rng)
            # a fixed count, so every pass runs the retry path
            self.fail_first.update(rng.sample(new, max(1, round(INGEST_FAIL_FIRST * n_new))))
            self.deltas.append(delta)
        return self.deltas[n]

    def shares(self) -> dict:
        n_base = sum(map(len, self.base.values()))
        new = [sum(map(len, d.values())) for d in self.deltas]
        sizes = [n_base + sum(new[:i]) for i in range(len(new))]
        return {
            "base_urls": n_base,
            "new_url_share_per_refresh": [round(a / b, 4) for a, b in zip(new, sizes)],
            "fail_first_share": round(len(self.fail_first) / sum(new), 4) if new else 0.0,
            "mean_page_chars": round(sum(map(len, self.pages.values())) / len(self.pages), 1),
        }


def fetcher_factory(pages: dict[str, str], fail_first: set[str], calls=None, fetch_s=None):
    """In-memory fetcher: no network, no sleep.  A URL in ``fail_first``
    raises on its first attempt within a fetcher instance, so the crawl's
    retry path runs.  ``calls``/``fetch_s`` are optional Spark accumulators
    (the traced run passes them) counting fetch calls and seconds spent."""
    fail_first = frozenset(fail_first)

    def factory():
        import time

        attempted: set[str] = set()

        def fetch(url: str) -> str:
            t0 = time.perf_counter()
            try:
                if url in fail_first and url not in attempted:
                    attempted.add(url)
                    raise ConnectionError(f"first attempt refused: {url}")
                return pages[url]
            finally:
                if calls is not None:
                    calls.add(1)
                    fetch_s.add(time.perf_counter() - t0)

        return fetch

    return factory


# -------------------------------------------------------------------- search


@dataclass
class SearchInputs:
    """An ingest-style corpus and a seeded closed-loop request sequence."""

    docs: list[tuple[str, str]]  # (index = sha256(url), info)
    rng: random.Random

    def request(self, n: int) -> list[str]:
        """Request ``n`` of the loop: a single-query request, then a
        SEARCH_BATCH-query batch, alternating."""
        return [self.query() for _ in range(SEARCH_BATCH if n % 2 else 1)]

    def query(self) -> str:
        """Five consecutive words of a random corpus page."""
        ws = self.rng.choice(self.docs)[1].split()
        at = self.rng.randrange(0, len(ws) - QUERY_WORDS + 1)
        return " ".join(ws[at : at + QUERY_WORDS])

    def shares(self) -> dict:
        return {
            "docs": len(self.docs),
            "mean_page_chars": round(sum(len(t) for _, t in self.docs) / len(self.docs), 1),
            "expected_chunks": sum(n_chunks(t) for _, t in self.docs),
            "batch_size": SEARCH_BATCH,
            "query_words": QUERY_WORDS,
        }


def search_inputs(seed: int) -> SearchInputs:
    rng = random.Random(f"search-{seed}")
    docs = []
    for i in range(SEARCH_DOCS):
        url = _url(rng, SOURCES[i % len(SOURCES)])
        docs.append((sha256_hex(url), page_text(rng)))
    return SearchInputs(docs=docs, rng=rng)


# -------------------------------------------------------------------- curate


def curate_corpus_rows(seed: int) -> tuple[list[dict], dict]:
    """A ``documents`` table for the curation ladder: ``doc_id < 20`` is the
    benchmark set; the training docs carry the CURATE_SHARES defects and one
    boilerplate family of HOT_BUCKET_DOCS docs.  Returns the rows and the
    measured share of each defect."""
    rng = random.Random(f"curate-{seed}")
    n_train = CURATE_DOCS - CURATE_BENCH
    texts = [page_text(rng) for _ in range(CURATE_BENCH)]
    kinds = ["bench"] * CURATE_BENCH
    plan = [k for k, share in CURATE_SHARES.items() for _ in range(round(share * n_train))]
    plan += ["hot"] * HOT_BUCKET_DOCS
    plan += ["plain"] * (n_train - len(plan))
    rng.shuffle(plan)
    boilerplate = words(rng, 60, 60)
    originals: list[int] = []  # training docs a duplicate may copy
    for kind in plan:
        if kind in ("exact_dup", "near_dup") and not originals:
            kind = "plain"
        if kind == "exact_dup":
            # clean_text collapses the doubled spaces: equal after cleaning
            text = texts[rng.choice(originals)].replace(" ", "  ", 1)
        elif kind == "near_dup":
            ws = texts[rng.choice(originals)].split()
            for i in rng.sample(range(len(ws)), max(1, len(ws) // 20)):
                ws[i] = rng.choice(VOCAB)
            text = " ".join(ws)
        elif kind == "non_english":
            markers = FOREIGN_MARKERS[rng.choice(sorted(FOREIGN_MARKERS))]
            ws = words(rng)
            for _ in range(max(3, len(ws) // 5)):
                ws.insert(rng.randrange(len(ws) + 1), rng.choice(markers))
            text = " ".join(ws)
        elif kind == "low_quality":
            text = " ".join(str(rng.randrange(10**6)) for _ in range(rng.randint(3, 9)))
        elif kind == "contaminated":
            src = texts[rng.randrange(CURATE_BENCH)].split()
            at = rng.randrange(0, max(1, len(src) - 12))
            ws = words(rng)
            cut = rng.randrange(len(ws) + 1)
            text = " ".join(ws[:cut] + src[at : at + 12] + ws[cut:])
        elif kind == "hot":
            ws = list(boilerplate)
            ws.insert(rng.randrange(len(ws) + 1), f"{rng.choice(VOCAB)}{rng.randrange(10**4)}")
            text = " ".join(ws)
        else:
            text = page_text(rng)
        if kind == "plain":
            originals.append(len(texts))
        texts.append(text)
        kinds.append(kind)
    rows = [
        {"doc_id": i, "text": t, "lang": "en", "source": f"src{i % 20}", "n_chars": len(t)}
        for i, t in enumerate(texts)
    ]
    shares = {k: round(kinds.count(k) / n_train, 4) for k in CURATE_SHARES}
    shares.update(docs=len(rows), benchmark_docs=CURATE_BENCH,
                  hot_bucket_docs=kinds.count("hot"))
    return rows, shares


def write_documents(rows: list[dict], path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema([("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
                        ("source", pa.string()), ("n_chars", pa.int64())])
    pq.write_table(pa.Table.from_pylist(rows, schema), path)


# ------------------------------------------------------------------ headline


def sf_tables(seed: int, out_dir: str) -> dict:
    """The ten tables the registry queries read, with the sf fixtures'
    schemas and value ranges at sf0.01 row counts, as parquet files under
    ``out_dir``.  Returns the row count of each table."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    r = np.random.default_rng(seed)
    n = SF_ROWS
    day_us = 86_400 * 10**6

    def ts(base: str, offsets_us):
        return pa.array(np.datetime64(base, "us") + offsets_us.astype("timedelta64[us]"),
                        pa.timestamp("us"))

    def money(lo, hi, size):
        return np.round(r.uniform(lo, hi, size), 2)

    i32, i64 = pa.int32(), pa.int64()
    tables = {
        "region": {
            "r_regionkey": pa.array(range(5), i32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        },
        "nation": {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        },
        "customer": {
            "c_custkey": pa.array(np.arange(n["customer"]), i64),
            "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
            "c_nationkey": pa.array(r.integers(0, 25, n["customer"]), i32),
            "c_acctbal": money(-999.99, 9999.99, n["customer"]),
            "c_mktsegment": r.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                                      "MACHINERY"], n["customer"]).tolist(),
        },
        "supplier": {
            "s_suppkey": pa.array(np.arange(n["supplier"]), i64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
            "s_nationkey": pa.array(r.integers(0, 25, n["supplier"]), i32),
            "s_acctbal": money(-999.99, 9999.99, n["supplier"]),
        },
        "part": {
            "p_partkey": pa.array(np.arange(n["part"]), i64),
            "p_name": [f"{a} {b}" for a, b in zip(
                r.choice("blue cold hot large new old red small".split(), n["part"]),
                r.choice("anvil bolt gear gizmo plate ring rod widget".split(), n["part"]))],
            "p_brand": [f"Brand#{i}" for i in r.integers(1, 26, n["part"])],
            "p_type": r.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"],
                               n["part"]).tolist(),
            "p_size": pa.array(r.integers(1, 51, n["part"]), i32),
            "p_retailprice": np.round(900 + r.integers(0, 1000, n["part"]) / 10, 1),
        },
        "orders": {
            "o_orderkey": pa.array(np.arange(n["orders"]), i64),
            "o_custkey": pa.array(r.integers(0, n["customer"], n["orders"]), i64),
            "o_orderstatus": r.choice(["F", "O", "P"], n["orders"]).tolist(),
            "o_totalprice": money(1000, 500000, n["orders"]),
            "o_orderdate": ts("1995-01-01", r.integers(0, 2400, n["orders"]) * day_us),
            "o_orderpriority": r.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                         "5-LOW"], n["orders"]).tolist(),
        },
        "lineitem": {
            "l_orderkey": pa.array(r.integers(0, n["orders"], n["lineitem"]), i64),
            "l_partkey": pa.array(r.integers(0, n["part"], n["lineitem"]), i64),
            "l_suppkey": pa.array(r.integers(0, n["supplier"], n["lineitem"]), i64),
            "l_linenumber": pa.array(r.integers(1, 8, n["lineitem"]), i32),
            "l_quantity": r.integers(1, 51, n["lineitem"]).astype(float),
            "l_extendedprice": money(900, 105000, n["lineitem"]),
            "l_discount": r.integers(0, 11, n["lineitem"]) / 100,
            "l_tax": r.integers(0, 9, n["lineitem"]) / 100,
            "l_returnflag": r.choice(["A", "N", "R"], n["lineitem"]).tolist(),
            "l_linestatus": r.choice(["F", "O"], n["lineitem"]).tolist(),
            "l_shipdate": ts("1995-01-02", r.integers(0, 2500, n["lineitem"]) * day_us),
        },
        "events": {
            "event_id": pa.array(np.arange(n["events"]), i64),
            # arrivals ~4.3 min apart on average, as in the fixture
            "ts": ts("2024-01-01", np.cumsum(r.exponential(259e6, n["events"])).astype(np.int64)),
            "user_id": pa.array(r.integers(0, 150, n["events"]), i64),
            "event_type": r.choice(["click", "error", "purchase", "signup", "view"],
                                   n["events"]).tolist(),
            "value": money(0.01, 490, n["events"]),
            "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n["events"])],
        },
    }
    rng = random.Random(f"sf-{seed}")
    docs = [page_text(rng) for _ in range(n["documents"])]
    tables["documents"] = {
        "doc_id": pa.array(range(len(docs)), i64),
        "text": docs,
        "lang": rng.choices(["en", "zh", "es", "de", "fr"], [0.41, 0.15, 0.15, 0.15, 0.14], k=len(docs)),
        "source": [f"src{i % 20}" for i in range(len(docs))],
        "n_chars": pa.array([len(t) for t in docs], i64),
    }
    # unit vectors near one of ten label centroids
    labels = r.integers(0, 10, n["documents"])
    vecs = r.normal(size=(10, 64))[labels] * 0.15 + r.normal(size=(n["documents"], 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = {
        "vec_id": pa.array(range(n["documents"]), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, i32),
    }
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, cols in tables.items():
        t = pa.table(cols)
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = t.num_rows
    return rows
