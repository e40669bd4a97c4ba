"""Seeded workload inputs, built from ``sources.pages`` row generators.

Every input is a pure function of the run's seed list, generated in the
driver process and written to parquet with pyarrow before any clock starts,
so the program only ever sees files.  Each page row keeps its true entity
id in Python (``truth``) for the correctness checks; the parquet files carry
only the pages schema (plus the block key on the grouped workload).
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

from name_matching_spark.functions.extract import extract_name_bytes
from name_matching_spark.sources.pages import page_row

PAGES_ARROW = pa.schema([
    ("url", pa.string()), ("warc_ts", pa.timestamp("us")),
    ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string()),
])
GROUPED_ARROW = PAGES_ARROW.append(pa.field("blk", pa.string()))

# serve_batches segment mix: perturbed twins / exact copies / entities that
# are not in the master
TWIN_SHARE, COPY_SHARE = 0.85, 0.10
# cluster_grouped: share of entities in the one big block, and how many
# small blocks share the rest
BIG_BLOCK_SHARE = 0.8
SMALL_BLOCKS = 40


@dataclass
class PageSet:
    """A parquet file of pages plus what the checks need about each page."""
    path: str
    truth: dict = field(default_factory=dict)   # url -> entity id
    names: dict = field(default_factory=dict)   # url -> embedded name


def _write(rows: list[dict], path: Path, schema: pa.Schema) -> None:
    path.parent.mkdir(parents=True, exist_ok=True)
    cols = {f.name: [r[f.name] for r in rows] for f in schema}
    pq.write_table(pa.table(cols, schema=schema), str(path))


def _page_set(rows: list[dict], path: Path, schema: pa.Schema) -> PageSet:
    _write(rows, path, schema)
    ps = PageSet(str(path))
    for r in rows:
        ps.truth[r["url"]] = r["entity_id"]
        ps.names[r["url"]] = extract_name_bytes(r["html"], r["text"])
    return ps


def serve_master(seed: int, n_master: int, path: Path) -> PageSet:
    """Master pages: variant 0 of entities ``0..n_master-1``."""
    return _page_set([page_row(e, 0, seed) for e in range(n_master)],
                     path, PAGES_ARROW)


def serve_segment(seed: int, n_master: int, k: int, size: int,
                  path: Path) -> PageSet:
    """Query segment ``k``: ``TWIN_SHARE`` perturbed twins (variant
    ``1 + k``, so no twin repeats across segments), ``COPY_SHARE`` exact
    copies of master pages under a fresh url, and the rest pages of
    entities that have no master page."""
    rng = random.Random(seed * 1_000_003 + k)
    n_twin = round(size * TWIN_SHARE)
    n_copy = round(size * COPY_SHARE)
    n_new = size - n_twin - n_copy
    picked = rng.sample(range(n_master), n_twin + n_copy)
    rows = [page_row(e, 1 + k, seed) for e in picked[:n_twin]]
    for e in picked[n_twin:]:
        r = page_row(e, 0, seed)
        r["url"] = f"https://site{e}.example/copy{k}"
        rows.append(r)
    first_new = n_master + k * n_new
    rows += [page_row(e, 1, seed) for e in range(first_new, first_new + n_new)]
    return _page_set(rows, path, PAGES_ARROW)


def block_key(entity_id: int, seed: int) -> str:
    """Block of an entity: ``BIG_BLOCK_SHARE`` land in block "big", the
    rest spread over ``SMALL_BLOCKS`` small blocks."""
    rng = random.Random(seed * 7_919 + entity_id)
    if rng.random() < BIG_BLOCK_SHARE:
        return "big"
    return f"s{rng.randrange(SMALL_BLOCKS)}"


def grouped_corpus(seed: int, n_entities: int,
                   out_dir: Path) -> tuple[PageSet, PageSet]:
    """One-shot grouped corpus -> (queries, masters).  Masters are variant
    0 of every entity; queries are variant 1 of every entity plus variant
    2 of every third one, so true clusters hold 2-3 pages."""
    def rows(pairs):
        out = []
        for e, v in pairs:
            r = page_row(e, v, seed)
            r["blk"] = block_key(e, seed)
            out.append(r)
        return out

    masters = rows((e, 0) for e in range(n_entities))
    queries = rows([(e, 1) for e in range(n_entities)]
                   + [(e, 2) for e in range(0, n_entities, 3)])
    return (_page_set(queries, out_dir / "queries.parquet", GROUPED_ARROW),
            _page_set(masters, out_dir / "masters.parquet", GROUPED_ARROW))
