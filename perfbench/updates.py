"""Seeded PipelineUpdates batches and a pure-Python check of a batch's outputs.

A batch file has the reference schema (``sources/pipeline_updates.py``):
``{"new_documents": [BackendDocument...], "updated_documents": {id: [Update...]}}``.
The expected outputs are derived here from the reference semantics
alone, without importing the package under test:

* a ``source_url`` is valid when it is null or an http(s) URL with a host;
* per updated document, if any update maps to ``parse`` only the first
  parse runs, otherwise every action runs (``update_dont_parse`` last);
* each surviving action expands to its archive renames;
* the report counts documents per ``(ingest_type, error)``.
"""

from __future__ import annotations

import glob
import json
import os
import random
import re
from collections import Counter
from urllib.parse import urlsplit

from workloads import INGEST

UPDATE_TYPES = (
    "name", "description", "source_url", "metadata", "slug", "reprocess", "reparse",
)
# reference updated_document_actions.py: update type -> action
ACTION_OF_TYPE = {
    "source_url": "parse",
    "reprocess": "parse",
    "reparse": "reparse",
    "name": "update_dont_parse",
    "description": "update_dont_parse",
    "metadata": "update_dont_parse",
    "slug": "update_field_in_all_occurences",
}
# archive renames per action: (prefixes, translated variants)
ARCHIVE_RULES = {
    "parse": (("parser_input", "embeddings_input", "indexer_input"), ("", "_translated_en")),
    "reparse": (("embeddings_input", "indexer_input"), ("", "_translated_en")),
    "update_dont_parse": (("indexer_input",), ("",)),
}
SUFFIXES = ("json", "npy")
DST_STAMP_RE = r"/\d{4}(-\d{2}){5}\."
SPACE_RE = re.compile(r"\s")

CATEGORIES = ("executive", "legislative", "litigation")
GEOGRAPHIES = ("IDN", "USA", "GBR", "FRA", "DEU", "BRA", "IND", "CHN", "KEN", "AUS")
WORDS = (
    "climate adaptation mitigation policy framework national strategy energy "
    "transition emissions carbon budget forest land water coastal resilience "
    "finance disaster risk reduction renewable target law decree act plan"
).split()
INVALID_URLS = (
    "ftp://files.example.org/doc{n}.pdf",
    "s3://bucket/doc{n}.pdf",
    "file:///data/doc{n}.pdf",
    "www.example.org/doc{n}.pdf",
    "doc{n}.pdf",
)
VALID_URLS = (
    "https://www.example.org/docs/doc{n}.pdf",
    "http://example.gov/laws/{n}.html",
    "https://data.example.net/files/{n}?format=pdf",
)


def _text(rng: random.Random, lo: int, hi: int) -> str:
    return " ".join(rng.choice(WORDS) for _ in range(rng.randint(lo, hi)))


def _source_url(rng: random.Random, n: int) -> str | None:
    r = rng.random()
    if r < INGEST["null_url_share"]:
        return None
    if r < INGEST["null_url_share"] + INGEST["invalid_url_share"]:
        return rng.choice(INVALID_URLS).format(n=n)
    return rng.choice(VALID_URLS).format(n=n)


def make_batch(seed: int, index: int, n_new: int, n_updated: int) -> dict:
    """Batch ``index`` of workload seed ``seed``; ids are distinct across batches."""
    rng = random.Random(seed * 1_000_003 + index)
    base = index * 10_000_000
    new_documents = []
    for i in range(n_new):
        n = base + i
        category = rng.choice(CATEGORIES)
        geography = rng.choice(GEOGRAPHIES)
        name = _text(rng, 3, 10)
        new_documents.append({
            "publication_ts": f"{rng.randint(1990, 2024)}-{rng.randint(1, 12):02d}"
                              f"-{rng.randint(1, 28):02d}T00:00:00",
            "name": name,
            "description": _text(rng, 10, 40),
            "source_url": _source_url(rng, n),
            "download_url": None,
            "url": None,
            "md5_sum": None,
            "type": rng.choice(("Law", "Policy", "Decree", "Strategy")),
            "source": "CCLW",
            "import_id": f"CCLW.{category}.{n}.{seed}",
            "family_import_id": f"CCLW.family.{n}.{seed}",
            "category": category.title(),
            "geography": geography,
            "languages": [rng.choice(("English", "French", "Spanish"))],
            "metadata": {
                "hazards": [], "frameworks": [], "instruments": [],
                "keywords": [rng.choice(WORDS)], "sectors": [rng.choice(WORDS)],
                "topics": [rng.choice(WORDS)],
            },
            "slug": f"{geography.lower()}-{name.split()[0]}-{n}",
            "family_slug": f"family-{n}",
        })
    updated_documents = {}
    for i in range(n_updated):
        n = base + 5_000_000 + i
        doc_id = f"CCLW.executive.{n}.{seed}"
        updated_documents[doc_id] = [
            {"type": t, "s3_value": f"old {t} {n}", "db_value": f"new {t} {n}"}
            for t in (rng.choice(UPDATE_TYPES) for _ in range(rng.randint(1, 3)))
        ]
    return {"new_documents": new_documents, "updated_documents": updated_documents}


def write_batch(batch: dict, path: str) -> int:
    """Write one batch as one JSON document; returns its size in bytes."""
    with open(path, "w") as f:
        json.dump(batch, f)
    return os.path.getsize(path)


def valid_url(url: str | None) -> bool:
    if url is None:
        return True
    if SPACE_RE.search(url):
        return False
    parts = urlsplit(url)
    return parts.scheme in ("http", "https") and bool(parts.hostname)


PARSER_INPUT_COLUMNS = (
    "document_id", "document_slug", "document_name", "document_description",
    "document_source_url", "document_type", "document_geography",
)
ARCHIVE_COLUMNS = ("document_id", "action", "prefix", "suffix", "variant", "src_path")


def _sorted_table(columns: tuple[str, ...], rows: list[tuple]):
    import pyarrow as pa

    table = pa.table({c: pa.array([r[i] for r in rows], pa.string())
                      for i, c in enumerate(columns)})
    return table.sort_by([(c, "ascending") for c in columns])


def expected_outputs(batch: dict) -> dict:
    """The outputs a batch must produce, from the reference semantics:
    parser input and archive plan as sorted tables, report as counts."""
    parser_input, report = [], Counter()
    for d in batch["new_documents"]:
        ok = valid_url(d["source_url"])
        report[("new", None if ok else "ValueError")] += 1
        if ok:
            parser_input.append((d["import_id"], d["slug"], d["name"], d["description"],
                                 d["source_url"], d["type"], d["geography"]))
    archive = []
    for doc_id, updates in batch["updated_documents"].items():
        actions = [ACTION_OF_TYPE[u["type"]] for u in updates]
        if "parse" in actions:
            actions = ["parse"]
        for action in actions:
            if action not in ARCHIVE_RULES:
                continue
            prefixes, variants = ARCHIVE_RULES[action]
            for prefix in prefixes:
                for suffix in SUFFIXES:
                    for variant in variants:
                        archive.append((doc_id, action, prefix, suffix, variant,
                                        f"{prefix}/{doc_id}{variant}.{suffix}"))
    if batch["updated_documents"]:
        report[("updated", None)] = len(batch["updated_documents"])
    return {
        "parser_input": _sorted_table(PARSER_INPUT_COLUMNS, parser_input),
        "archive_plan": _sorted_table(ARCHIVE_COLUMNS, archive),
        "report": report,
        "docs": len(batch["new_documents"]) + len(batch["updated_documents"]),
    }


def _json_lines(directory: str) -> list[dict]:
    rows = []
    for part in sorted(glob.glob(os.path.join(directory, "part-*"))):
        with open(part) as f:
            rows.extend(json.loads(line) for line in f if line.strip())
    return rows


def _compare(name: str, got, want) -> list[str]:
    got = (got.select(want.column_names).cast(want.schema)
           .sort_by([(c, "ascending") for c in want.column_names]))
    if got.equals(want):
        return []
    rows = zip(got.to_pylist(), want.to_pylist())
    first = next(((g, w) for g, w in rows if g != w), None)
    where = "" if first is None else f"; first difference: got {first[0]}, want {first[1]}"
    return [f"{name} differs: {len(got)} rows, want {len(want)}{where}"]


def check_outputs(want: dict, out_dir: str, counts: dict) -> list[str]:
    """Compare a batch's written outputs and returned counts with ``want``
    (from :func:`expected_outputs`). Returns one message per mismatch."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.json as pj
    import pyarrow.parquet as pq

    schema = pa.schema([(c, pa.string()) for c in PARSER_INPUT_COLUMNS])
    parts = [pj.read_json(p, parse_options=pj.ParseOptions(
                 explicit_schema=schema, unexpected_field_behavior="ignore"))
             for p in sorted(glob.glob(os.path.join(out_dir, "parser_input", "part-*")))]
    got_pi = pa.concat_tables(parts) if parts else schema.empty_table()
    errors = _compare("parser_input", got_pi, want["parser_input"])
    archive = pq.read_table(os.path.join(out_dir, "archive_plan"))
    errors += _compare("archive_plan", archive, want["archive_plan"])
    # dst_path must be archive/{prefix}/{document_id}/{YYYY-MM-DD-HH-MM-SS}.{suffix}
    dst = pc.replace_substring_regex(archive["dst_path"], pattern=DST_STAMP_RE,
                                     replacement="/.")
    want_dst = pc.binary_join_element_wise(
        "archive", archive["prefix"], archive["document_id"],
        pc.binary_join_element_wise(".", archive["suffix"], ""), "/")
    bad_dst = len(archive) - (pc.sum(pc.equal(dst, want_dst)).as_py() or 0)
    if bad_dst:
        errors.append(f"archive_plan: {bad_dst} dst_path values off the archive layout")
    got_rep = Counter()
    for r in _json_lines(os.path.join(out_dir, "report")):
        got_rep[(r.get("ingest_type"), r.get("error"))] += r.get("n_docs", 0)
    if got_rep != want["report"]:
        errors.append(f"report differs: got {dict(got_rep)}, want {dict(want['report'])}")
    want_counts = {
        "parser_input": len(want["parser_input"]),
        "archive_plan": len(want["archive_plan"]),
        "report": len(want["report"]),
    }
    if counts != want_counts:
        errors.append(f"run_batch counts {counts} != expected {want_counts}")
    return errors
