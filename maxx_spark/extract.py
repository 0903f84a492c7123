"""The vectorized extraction stage (SURVEY.md E11 + P1-P34).

``extract_code_units(pages)``: pages DataFrame → code_units DataFrame via
``mapInPandas`` (Arrow batches; the parser module is imported once per
Python worker and amortized across batches). One page row → N code-unit
rows (file unit + members). Parse failures become error rows — the
stream/batch never dies on one bad page (reference: treesitter.py:394-406
wraps failures in SyntaxError; here they land in a dead-letter-able
``kind='error'`` row).

Filter placement matters at scale: Catalyst cannot push predicates across
an opaque Python UDF, so ``lang == 'matlab'`` / url-suffix filters are
applied *before* this stage (see ``matlab_pages``).
"""

from __future__ import annotations

from collections.abc import Iterator
from urllib.parse import urlparse

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from maxx_spark.schema import CODE_UNITS


# ---------------------------------------------------------------------------
# identifier derivation from url (P17; reference collection.py:131-155)
# ---------------------------------------------------------------------------


def identifier_from_url(url: str) -> dict:
    """Derive host, namespace-qualified identifier, class-folder membership
    and privacy from a crawl url.

    ``https://h/x/+a/+b/f.m``    → identifier ``a.b.f``
    ``https://h/x/@Cls/f.m``     → class folder ``Cls``, member file ``f``
    ``.../private/f.m``          → private
    """
    p = urlparse(url)
    host = p.netloc
    segs = [s for s in p.path.split("/") if s]
    fname = segs[-1] if segs else ""
    stem = fname.rsplit(".", 1)[0] if "." in fname else fname
    dirs = segs[:-1]

    classfolder = None
    ns_end = len(dirs)
    if dirs and dirs[-1].startswith("@"):
        classfolder = dirs[-1][1:]
        ns_end -= 1
    elif dirs and dirs[-1] == "private" and len(dirs) >= 2 and dirs[-2].startswith("@"):
        classfolder = dirs[-2][1:]
        ns_end -= 2

    ns_parts: list[str] = []
    i = ns_end - 1
    while i >= 0 and dirs[i].startswith("+"):
        ns_parts.append(dirs[i][1:])
        i -= 1
    ns_parts.reverse()
    ns = ".".join(ns_parts)

    if classfolder:
        ident = (ns + "." if ns else "") + classfolder
    else:
        ident = (ns + "." if ns else "") + stem
    return {
        "host": host,
        "stem": stem,
        "ext": fname.rsplit(".", 1)[-1].lower() if "." in fname else "",
        "namespace": ns,
        "classfolder": classfolder,
        "identifier": ident,
        "is_private": "private" in dirs,
        "is_internal": "+internal" in dirs,
    }


# ---------------------------------------------------------------------------
# MUnit → rows
# ---------------------------------------------------------------------------


def _doc_fields(doc) -> tuple:
    if doc is None:
        return (None, None, None)
    return (doc.value, doc.lineno, doc.endlineno)


def _args_list(args) -> list[dict] | None:
    if not args:
        return None
    return [
        {
            "name": a.name,
            "arg_kind": a.kind,
            "type": a.type,
            "dimensions": a.dimensions,
            "validators": a.validators,
            "default": a.default,
            "docstring": a.docstring.value if a.docstring else None,
        }
        for a in args
    ]


def _attr_map(attrs: dict) -> dict | None:
    out = {k: ("" if v is None else str(v)) for k, v in attrs.items() if v is not None}
    return out or None


def flatten_unit(unit, url: str, warc_ts, text: str, info: dict) -> list[dict]:
    """One parsed file → rows for the file unit and its members."""
    from maxx_spark.matparse.mparser import source_slice

    rows: list[dict] = []
    ident = info["identifier"]
    ns = info["namespace"]
    is_cf_member = info["classfolder"] is not None and info["stem"] != info["classfolder"]
    unit_path = ident if not is_cf_member else f"{ident}.{info['stem']}"
    parent_path = (
        ident if is_cf_member else (("+" + ns) if ns else None)
    )
    dv, dl, de = _doc_fields(unit.docstring)
    rows.append(
        {
            "url": url,
            "warc_ts": warc_ts,
            "unit_path": unit_path,
            "kind": unit.kind,
            "name": unit.name,
            "parent_path": parent_path,
            "lineno": unit.lineno,
            "endlineno": unit.endlineno,
            "docstring": dv,
            "docstring_lineno": dl,
            "docstring_endlineno": de,
            "bases": unit.bases or None,
            "attributes": _attr_map(unit.attributes),
            "arguments": _args_list(unit.arguments) if unit.kind == "function" else None,
            "returns": _args_list(unit.returns) if unit.kind == "function" else None,
            "sections": (
                [{"section_kind": k, "content": c} for k, c in unit.sections]
                if unit.sections
                else None
            ),
            "extracted_text": (
                source_slice(text, unit.lineno, unit.endlineno)
                if unit.lineno and text is not None
                else text
            ),
            "is_private": info["is_private"],
            "is_internal": info["is_internal"],
            "error": None,
        }
    )
    for name, m in unit.members.items():
        mdv, mdl, mde = _doc_fields(m.docstring)
        attrs = dict(m.attributes)
        if m.kind == "enumeration" and m.value is not None:
            attrs["value"] = m.value
        # member-level privacy (reference objects.py:967-972, 1113-1117):
        # functions are private when path-private OR Access not in
        # {public, immutable}; properties when Access or GetAccess != public
        acc = attrs.get("Access")
        gacc = attrs.get("GetAccess")
        if m.kind == "function":
            m_private = info["is_private"] or (
                acc is not None and acc not in ("public", "immutable")
            )
        elif m.kind == "property":
            m_private = (
                info["is_private"]
                or (acc is not None and acc != "public")
                or (gacc is not None and gacc != "public")
            )
        else:
            m_private = info["is_private"]
        rows.append(
            {
                "url": url,
                "warc_ts": warc_ts,
                "unit_path": f"{unit_path}.{name}",
                "kind": m.kind,
                "name": name,
                "parent_path": unit_path,
                "lineno": m.lineno,
                "endlineno": m.endlineno,
                "docstring": mdv,
                "docstring_lineno": mdl,
                "docstring_endlineno": mde,
                "bases": None,
                "attributes": _attr_map(attrs),
                "arguments": _args_list(m.arguments) if m.kind == "function" else None,
                "returns": _args_list(m.returns) if m.kind == "function" else None,
                "sections": None,
                "extracted_text": (
                    source_slice(text, m.lineno, m.endlineno)
                    if m.lineno and text is not None
                    else None
                ),
                "is_private": m_private,
                "is_internal": info["is_internal"],
                "error": None,
            }
        )
    return rows


def _decode_html(raw: bytes) -> str:
    """P2: charset-detect + decode the raw page bytes (reference
    treesitter.py:325-340 uses charset_normalizer the same way), then strip
    a crawl-artifact HTML wrapper — MATLAB source archived as a web page is
    commonly wrapped in <pre>...</pre>."""
    try:
        import charset_normalizer

        best = charset_normalizer.from_bytes(raw).best()
        text = str(best) if best is not None else raw.decode("utf-8", errors="replace")
    except ImportError:  # pragma: no cover — baked into this sandbox
        text = raw.decode("utf-8", errors="replace")
    import re as _re

    m = _re.search(r"<pre>(.*)</pre>", text, _re.DOTALL)
    return m.group(1) if m else text


def _error_row(url: str, warc_ts, msg: str) -> dict:
    try:
        info = identifier_from_url(url)
        priv, internal = info["is_private"], info["is_internal"]
    except Exception:  # noqa: BLE001 — privacy derivation must not mask the error
        priv, internal = None, None
    return {
        "url": url, "warc_ts": warc_ts, "unit_path": None, "kind": "error",
        "name": None, "parent_path": None, "lineno": None, "endlineno": None,
        "docstring": None, "docstring_lineno": None, "docstring_endlineno": None,
        "bases": None, "attributes": None, "arguments": None, "returns": None,
        "sections": None, "extracted_text": None,
        "is_private": priv, "is_internal": internal, "error": msg[:1000],
    }


def extract_rows_for_page(url: str, warc_ts, html, text: str | None) -> list[dict]:
    """Parse one page into code-unit rows (pure Python, no Spark)."""
    from maxx_spark.matparse import (
        is_binary_mlx,
        parse_mfile,
        parse_mlx_bytes,
        parse_plaintext_livescript,
    )
    from maxx_spark.matparse.mparser import MUnit

    info = identifier_from_url(url)
    try:
        # README.md / readme.md → one folder-docstring row (P19; reference
        # collection.py:284-295 reads it when a folder has no Contents.m)
        if info["stem"].lower() == "readme" and info["ext"] == "md":
            if text is None and html is not None:
                text = _decode_html(bytes(html))
            return [
                {
                    "url": url, "warc_ts": warc_ts, "unit_path": None,
                    "kind": "readme", "name": info["stem"], "parent_path": None,
                    "lineno": 1, "endlineno": (text or "").count("\n") + 1,
                    "docstring": text, "docstring_lineno": 1,
                    "docstring_endlineno": (text or "").count("\n") + 1,
                    "bases": None, "attributes": None, "arguments": None,
                    "returns": None, "sections": None, "extracted_text": text,
                    "is_private": info["is_private"],
                    "is_internal": info["is_internal"], "error": None,
                }
            ]
        if text is None and html is not None:
            if is_binary_mlx(bytes(html)):
                sections = parse_mlx_bytes(bytes(html))
                unit = MUnit("live_script", info["stem"], lineno=1, endlineno=1)
                unit.sections = sections
                return flatten_unit(unit, url, warc_ts, None, info)
            text = _decode_html(bytes(html))
        if info["ext"] == "mlx":
            if html is not None and is_binary_mlx(bytes(html)):
                sections = parse_mlx_bytes(bytes(html))
            else:
                sections = parse_plaintext_livescript(text or "")
            unit = MUnit("live_script", info["stem"], lineno=1,
                         endlineno=(text or "").count("\n") + 1)
            unit.sections = sections
            return flatten_unit(unit, url, warc_ts, text, info)
        unit = parse_mfile(text or "", info["stem"])
        if unit.kind == "script" and (text or "").lstrip().startswith("%%"):
            unit.kind = "live_script"
            unit.sections = parse_plaintext_livescript(text or "")
        return flatten_unit(unit, url, warc_ts, text, info)
    except Exception as ex:  # noqa: BLE001 — one bad page must not kill the stream
        return [_error_row(url, warc_ts, f"{type(ex).__name__}: {ex}")]


# ---------------------------------------------------------------------------
# Spark stage
# ---------------------------------------------------------------------------


def matlab_pages(pages: DataFrame) -> DataFrame:
    """Cheap pre-UDF filter: only matlab pages reach the Python stage.
    Stays in the JVM scan (predicate pushdown / codegen)."""
    return pages.where(
        (F.col("lang") == "matlab")
        | F.col("url").endswith(".m")
        | F.col("url").endswith(".mlx")
        # README.md folder docstrings (P19) are admitted by filename — a
        # crawler tags them with their natural language, not 'matlab'
        | F.col("url").endswith("/README.md")
        | F.col("url").endswith("/readme.md")
    )


def _extract_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    cols = [f.name for f in CODE_UNITS.fields]
    for pdf in batches:
        # columnar assembly: one list per column (a list-of-dicts
        # DataFrame build costs ~2x the parse itself at scale)
        data: dict[str, list] = {c: [] for c in cols}
        for url, ts, html, text in zip(
            pdf["url"], pdf["warc_ts"], pdf["html"], pdf["text"]
        ):
            for row in extract_rows_for_page(url, ts, html, text):
                for c in cols:
                    data[c].append(row[c])
        yield pd.DataFrame(data, columns=cols)


def extract_code_units(pages: DataFrame) -> DataFrame:
    """pages → code_units. Works identically on batch and streaming
    DataFrames (mapInPandas is streaming-compatible)."""
    src = matlab_pages(pages).select("url", "warc_ts", "html", "text")
    return src.mapInPandas(_extract_batches, CODE_UNITS)
