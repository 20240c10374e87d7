"""Seeded benchmark inputs and correctness gates.

The pages table and the dim tables are rendered in the driver process
from ``testkit.generate`` (the same per-page formulas the Spark fixture
builders use) and written with pyarrow, so set-up costs no Spark job
and the same seed always yields byte-identical inputs. The gates read
the committed output back and compare it with the pure-Python golden
expectation (``testkit.validate_golden``)."""

from __future__ import annotations

import os
from collections import Counter
from datetime import timezone

import pyarrow as pa
import pyarrow.parquet as pq

from pywdcollections_spark.testkit import generate as G
from pywdcollections_spark.testkit.validate_golden import expected_validation

PAGE_FILES = 8

_PA_TYPES = {"string": pa.string(), "long": pa.int64()}

_PAGES = pa.schema([("url", pa.string()), ("warc_ts", pa.timestamp("us", "UTC")),
                    ("html", pa.binary()), ("text", pa.string()),
                    ("lang", pa.string())])

_ENTITIES_SEED = pa.schema(
    [("qid", pa.string()), ("last_modified", pa.timestamp("us", "UTC"))]
    + [(p, pa.string()) for p in ("P17", "P18", "P131", "P154", "P281", "P373",
                                  "P571", "P625", "P856", "P1866", "P2971")])


def _dim_schema(name: str) -> pa.Schema:
    from pywdcollections_spark.sources.readers import DIM_SCHEMAS
    ddl = DIM_SCHEMAS[name]
    if ddl is None:
        return _ENTITIES_SEED
    cols = [c.strip().split() for c in ddl.split(",")]
    return pa.schema([(c, _PA_TYPES[t]) for c, t in cols])


def _utc(rows: list[dict], col: str) -> None:
    for r in rows:
        r[col] = r[col].replace(tzinfo=timezone.utc)


def head_templates(n_pages: int) -> int:
    """Head-template pool size, as bench.pages_parquet sizes it."""
    return min(10_000, max(200, n_pages // 10))


def write_inputs(root: str, n_pages: int, seed: int) -> dict:
    """Write ``root/pages`` (PAGE_FILES parquet files) and
    ``root/dims/dim_<name>.parquet``; returns their paths."""
    head = head_templates(n_pages)
    pages_dir = os.path.join(root, "pages")
    dims_dir = os.path.join(root, "dims")
    os.makedirs(pages_dir, exist_ok=True)
    os.makedirs(dims_dir, exist_ok=True)
    per_file = -(-n_pages // PAGE_FILES)
    for f in range(PAGE_FILES):
        rows = [G.page_row(seed, i, n_pages, head)
                for i in range(f * per_file, min(n_pages, (f + 1) * per_file))]
        _utc(rows, "warc_ts")
        pq.write_table(pa.Table.from_pylist(rows, schema=_PAGES),
                       os.path.join(pages_dir, f"part-{f:05d}.parquet"))
    dims = G.dim_rows(n_pages, seed)
    _utc(dims["entities_seed"], "last_modified")
    dim_paths = {}
    for name, rows in dims.items():
        path = os.path.join(dims_dir, f"dim_{name}.parquet")
        pq.write_table(pa.Table.from_pylist(rows, schema=_dim_schema(name)), path)
        dim_paths[name] = path
    return {"pages": pages_dir, "dims_dir": dims_dir, "dims": dim_paths,
            "n_pages": n_pages, "head_templates": head}


def golden_triples(n_pages: int, seed: int) -> Counter:
    """(subj, pred, obj_norm, obj_raw, source) multiset of the expected
    valid triples."""
    valid, _ = expected_validation(n_pages, seed,
                                   head_templates=head_templates(n_pages))
    return Counter((r["subj"], r["pred"], r["obj_norm"], r["obj_raw"],
                    r["source"]) for r in valid)


TRIPLE_COLS = ["subj", "pred", "obj_norm", "obj_raw", "datatype", "source",
               "site_qid", "url", "warc_ts"]


def collect_triples(df) -> Counter:
    return Counter(tuple(r) for r in df.select(*TRIPLE_COLS).collect())


def golden_view(full: Counter) -> Counter:
    """Project collected TRIPLE_COLS rows onto the golden columns."""
    out: Counter = Counter()
    for row, n in full.items():
        out[row[:4] + row[5:6]] += n
    return out


def data_files(path: str) -> tuple[int, int]:
    """(count, bytes) of committed data files under ``path`` — every
    file whose name does not start with '_' or '.' (markers, crc)."""
    n = size = 0
    for dirpath, _dirs, files in os.walk(path):
        for fn in files:
            if not fn.startswith(("_", ".")):
                n += 1
                size += os.path.getsize(os.path.join(dirpath, fn))
    return n, size
