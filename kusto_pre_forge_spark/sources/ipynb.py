"""Jupyter notebook (.ipynb) source — the code-corpus container The
Stack / StarCoder pipelines flatten into scripts before filtering
(Kocetkov et al. 2022 §2: notebooks are converted and their cells
filtered like source files).

The format is public and simple (nbformat 4: a JSON document with
``cells[]``, each carrying ``cell_type`` (code/markdown/raw) and
``source`` as a string or list of line strings). The reader flattens one
row per cell, preserving notebook order, so the code-quality rules
(``operators/codestats.py``) and the prose gates (Gopher/C4) can each
filter their own cell type; ``to_script`` reassembles the classic
"code cells joined, markdown as comments" script form.

Spark-first: stdlib ``json`` inside an Arrow ``mapInPandas`` over
``blob.read_blobs`` blobs — a pure map stage (the sibling readers' posture);
malformed JSON yields zero rows (crawl posture). Dependency-free
fixture forge writes spec-shaped notebooks.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kusto_pre_forge_spark.sources.blob import map_blobs, read_blobs

IPYNB_DDL = (
    "cell_idx int, cell_type string, source string, n_lines int, "
    "language string, output_text string, _kpf_source string"
)


def _cell_output_text(cell: dict) -> str:
    """Concatenated TEXT outputs of a code cell (nbformat §outputs):
    ``stream`` text, ``execute_result``/``display_data`` text/plain, and
    ``error`` traceback lines — the console story some code-corpus
    configurations keep alongside the source. Rich mimetypes (images,
    html) are skipped; non-code cells have no outputs."""
    parts = []
    for out in cell.get("outputs") or []:
        if not isinstance(out, dict):
            continue
        ot = out.get("output_type")
        if ot == "stream":
            t = out.get("text", "")
            parts.append("".join(t) if isinstance(t, list) else str(t))
        elif ot in ("execute_result", "display_data"):
            data = out.get("data") or {}
            t = data.get("text/plain", "")
            parts.append("".join(t) if isinstance(t, list) else str(t))
        elif ot == "error":
            tb = out.get("traceback") or []
            parts.append("\n".join(str(x) for x in tb))
    return "".join(parts)


def notebook_cells(data: bytes) -> list[dict]:
    """Pure function: notebook bytes → cell dicts (idx, type, source,
    n_lines, language). nbformat stores ``source`` as a string OR a
    list of keep-newline line strings — both normalize to one string.
    The kernel language comes from metadata.language_info.name (or
    kernelspec.language), '' when absent. Malformed JSON → []."""
    try:
        nb = json.loads(bytes(data).decode("utf-8", "replace"))
    except (ValueError, UnicodeDecodeError):
        return []
    if not isinstance(nb, dict):
        return []
    meta = nb.get("metadata") or {}
    lang = ""
    if isinstance(meta, dict):
        li = meta.get("language_info") or {}
        ks = meta.get("kernelspec") or {}
        lang = (
            (li.get("name") if isinstance(li, dict) else None)
            or (ks.get("language") if isinstance(ks, dict) else None)
            or ""
        )
    out = []
    cells = nb.get("cells")
    if not isinstance(cells, list):
        return []
    for i, cell in enumerate(cells):
        if not isinstance(cell, dict):
            continue
        src = cell.get("source", "")
        if isinstance(src, list):
            src = "".join(s for s in src if isinstance(s, str))
        elif not isinstance(src, str):
            src = ""
        out.append(
            {
                "cell_idx": i,
                "cell_type": str(cell.get("cell_type", "")),
                "source": src,
                "n_lines": len(src.split("\n")) if src else 0,
                "language": lang,
                "output_text": _cell_output_text(cell),
            }
        )
    return out


def to_script(cells: list[dict], comment_prefix: str = "# ") -> str:
    """The classic notebook→script flattening: code cells verbatim,
    markdown cells commented line-by-line, raw cells dropped; cells
    separate with a blank line."""
    parts = []
    for c in cells:
        if c["cell_type"] == "code":
            parts.append(c["source"])
        elif c["cell_type"] == "markdown":
            parts.append(
                "\n".join(
                    comment_prefix + ln for ln in c["source"].split("\n")
                )
            )
    return "\n\n".join(parts)


def parse_ipynb_blobs(blobs: DataFrame) -> DataFrame:
    """Blob rows (``blob.read_blobs``, or any binaryFile frame) → one
    row per cell (IPYNB_DDL), in notebook order — one
    ``blob.map_blobs`` stage."""
    return map_blobs(
        blobs, lambda _path, f: notebook_cells(f.read()), IPYNB_DDL
    )


def read_ipynb(spark: SparkSession, path: str) -> DataFrame:
    """Read a directory/glob of notebooks as one typed row per cell with
    ``_kpf_source`` lineage."""
    return parse_ipynb_blobs(read_blobs(spark, path))


def notebooks_to_scripts(cells: DataFrame) -> DataFrame:
    """Cell rows (IPYNB_DDL shape) → one script per notebook: code cells
    verbatim, markdown commented, raw dropped, notebook order pinned —
    declaratively (array HOFs over a per-notebook collect_list; ONE
    exchange shuffling cell text, the reassembly's floor)."""
    ordered = F.array_sort(
        F.collect_list(F.struct("cell_idx", "cell_type", "source"))
    )
    kept = F.filter(
        ordered, lambda c: c["cell_type"].isin("code", "markdown")
    )
    rendered = F.transform(
        kept,
        lambda c: F.when(c["cell_type"] == "code", c["source"]).otherwise(
            F.concat(
                F.lit("# "),
                F.regexp_replace(c["source"], "\n", "\n# "),
            )
        ),
    )
    return cells.groupBy("_kpf_source").agg(
        F.array_join(rendered, "\n\n").alias("script"),
        F.max("language").alias("language"),
        F.count(F.lit(1)).cast("long").alias("n_cells"),
    )


# --------------------------------------------------- fixture-forging writer


def ipynb_bytes(
    cells: list[tuple[str, str]], language: str = "python"
) -> bytes:
    """Forge one nbformat-4 notebook from (cell_type, source) pairs —
    source stored in the spec's keep-newline line-list form so the
    reader's normalization is on the hook."""
    def lines(src: str) -> list[str]:
        parts = src.split("\n")
        return [p + "\n" for p in parts[:-1]] + ([parts[-1]] if parts[-1] else [])

    nb = {
        "nbformat": 4,
        "nbformat_minor": 5,
        "metadata": {"language_info": {"name": language}},
        "cells": [
            {
                "cell_type": ct,
                "metadata": {},
                "source": lines(src),
                **({"outputs": [], "execution_count": None} if ct == "code" else {}),
            }
            for ct, src in cells
        ],
    }
    return json.dumps(nb, ensure_ascii=False).encode("utf-8")
