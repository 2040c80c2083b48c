"""Output checks, run after the timed pass.

Registry results are compared with their DuckDB twins on the same input
tables: same column names, same row count, and the same multiset of rows
with cells canonicalized as in ``scripts/oracle_full.py`` except floats,
which match at a relative tolerance of 1e-12. The oracle's six-decimal
rule asks for more digits than a double holds on sums above ~1e10, where
Spark's and DuckDB's summation orders legitimately differ.
"""

from __future__ import annotations

import base64
import gzip
import math
import os

REL_TOL = 1e-12


def duckdb_views(data_dir: str, tables):
    import duckdb

    con = duckdb.connect()
    for t in tables:
        path = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def _canon(val):
    if val is None:
        return "∅"
    if isinstance(val, float):
        return "nan" if math.isnan(val) else val
    if isinstance(val, bool):
        return str(bool(val))
    return str(val)


def _sort_key(row):
    return tuple(f"{v:.9e}" if isinstance(v, float) else v for v in row)


def _rows(pdf):
    cols = sorted(pdf.columns)
    rows = [tuple(_canon(v) for v in r) for r in pdf[cols].itertuples(index=False)]
    rows.sort(key=_sort_key)
    return cols, rows


def _same(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        return a == b or math.isclose(a, b, rel_tol=REL_TOL, abs_tol=0.0)
    return a == b


def compare_frames(spark_pdf, oracle_pdf) -> str | None:
    """None when equal, else a one-line reason."""
    s_cols, s_rows = _rows(spark_pdf)
    o_cols, o_rows = _rows(oracle_pdf)
    if s_cols != o_cols:
        return f"columns differ: {s_cols} vs {o_cols}"
    if len(s_rows) != len(o_rows):
        return f"row count {len(s_rows)} vs oracle {len(o_rows)}"
    for i, (sr, orow) in enumerate(zip(s_rows, o_rows)):
        for c, a, b in zip(s_cols, sr, orow):
            if not _same(a, b):
                return f"row {i} column {c}: {a!r} vs oracle {b!r}"
    return None


def check_shards(out_dir: str, manifest_pdf, n_docs: int) -> str | None:
    """Every row written is read back; per-shard counts match the manifest."""
    per_shard: dict[int, int] = {}
    for dirpath, _, files in os.walk(out_dir):
        base = os.path.basename(dirpath)
        if not base.startswith("shard="):
            continue
        shard = int(base.split("=", 1)[1])
        for f in files:
            if f.endswith(".json.gz"):
                with gzip.open(os.path.join(dirpath, f), "rt") as fh:
                    per_shard[shard] = per_shard.get(shard, 0) + sum(1 for _ in fh)
    manifest = {int(r.shard): int(r.n_rows) for r in manifest_pdf.itertuples()}
    if per_shard != manifest:
        return f"shards read back {per_shard} vs manifest {manifest}"
    if sum(manifest.values()) != n_docs:
        return f"manifest total {sum(manifest.values())} vs {n_docs} documents"
    return None


def check_svg_figures(figs, expected_titles) -> str | None:
    titles = [t for t, _ in figs]
    if titles != expected_titles:
        return f"figures {titles} vs expected {expected_titles}"
    for title, b64 in figs:
        if not base64.b64decode(b64).startswith(b"<svg"):
            return f"figure {title!r} is not an SVG"
    return None


def check_report_html(html: str, metric_keys, model_path) -> str | None:
    for section in ("Data Cleaning", "Data Preview", "Model Performance",
                    "AI Insights", "Visualizations"):
        if f"<h3>{section}</h3>" not in html:
            return f"report lacks section {section!r}"
    for key in metric_keys:
        if f"<strong>{key}:</strong>" not in html:
            return f"report lacks metric {key!r}"
    if not model_path or not os.path.isdir(model_path):
        return f"no saved model at {model_path!r}"
    return None


