"""The benchmark's inputs, taken from the repository's test data.

``data/`` holds byte copies of the engine's deterministic test tables (see
``TESTDATA.md``): the whole ``sf0.01`` set, which the operator queries and
their DuckDB twins read as it is, and ``sf0.1/documents.parquet``, from which
the pages corpus is built.  The copies live here because the benchmark reads
only files of its own checkout.
"""

from __future__ import annotations

import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
#: operator tables; the directory's name keys the page cache that the
#: cache-backed queries and their oracle SQL share
OPERATORS_SF = os.path.join(DATA, "sf0.01")
PAGES_SOURCE = os.path.join(DATA, "sf0.1", "documents.parquet")
#: doc_id offset step of ``bench.prepare_pages`` and ``tools/replicate_sf.py``
OFFSET = 10_000_019


def write_pages(out_dir: str, seed: int, n_pages: int, files: int) -> str:
    """Write ``n_pages`` pages built by ``corpus.build_page(..., repeat=8)``
    from sf0.1 ``documents`` as ``files`` parquet files (one scan split
    each) and return ``out_dir``.  The seed picks the rows and their order
    and the doc_id offset, which sets each page's url and template."""
    from ocrd_tesserocr_spark.corpus import build_page

    os.makedirs(out_dir, exist_ok=True)
    rng = random.Random(seed)
    docs = pq.read_table(PAGES_SOURCE, columns=["doc_id", "text", "lang"]).to_pylist()
    rng.shuffle(docs)
    offset = rng.randrange(1, 100) * OFFSET
    rows = [build_page(d["doc_id"] + offset, d["text"], d["lang"], repeat=8) for d in docs[:n_pages]]
    schema = pa.schema([
        ("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string()),
    ])
    for k in range(files):
        pq.write_table(pa.Table.from_pylist(rows[k::files], schema=schema),
                       os.path.join(out_dir, "part-%d.parquet" % k))
    return out_dir
