"""Seeded benchmark inputs, generated in parallel and cached on disk.

Two corpora, both built from :mod:`table_ocr_spark.datagen.pages`:

* ``pages``: the BASELINE pages table as ``n_files`` parquet files with
  small row groups, so the scan splits into near-equal partitions on
  every core (one big row group puts the whole corpus on one core).
  Used by the ``extract`` workload and its lineage replay.
* ``crawl``: ``.warc.gz`` files with planted truth: exact duplicates,
  near-duplicates well above the 0.8 Jaccard threshold, emails and
  phones, non-HTML records and re-captures. The expected
  ``CorpusReport`` counts come from construction, not from the engine.

Each file is generated by its own worker process from
``(seed, file index)``, so the same seed always gives the same bytes.
A finished corpus is marked by its ``_meta.json`` (a name the parquet
reader skips); a later run with the same (corpus, seed, size) reuses it.
"""

from __future__ import annotations

import json
import os
import random
import re
import shutil
from multiprocessing import get_context

PAGES_ROW_GROUP = 1024

# Gopher quality rules of operators.textstats.gopher_quality, restated
# over the constructed text. Java's \s is the ASCII whitespace class.
_JAVA_WS = re.compile(r"[ \t\n\x0b\f\r]+")
_NON_SYMBOL = re.compile(r"[A-Za-z0-9 \t\n\x0b\f\r]")


def quality_pass(text: str) -> bool:
    toks = [w for w in _JAVA_WS.split(text) if w]
    n = len(toks)
    avg = sum(len(w) for w in toks) / max(n, 1)
    sym = len(_NON_SYMBOL.sub("", text)) / max(len(text), 1)
    return 10 <= n <= 100_000 and 2.0 <= avg <= 12.0 and sym <= 0.1


def n_tokens(text: str) -> int:
    return sum(1 for w in _JAVA_WS.split(text) if w)


def _file_seed(seed: int, index: int) -> int:
    return seed * 1_000_003 + index


def _shard_pages(seed: int, index: int, n_docs: int) -> list:
    """datagen pages for one file; urls carry the file index so they
    stay unique across files."""
    from table_ocr_spark.datagen.pages import generate_pages

    pages, _ = generate_pages(n_docs=n_docs, seed=_file_seed(seed, index))
    tag = f"/f{index:03d}-doc-"
    for p in pages:
        p["url"] = p["url"].replace("/doc-", tag)
    return pages


def _write_pages_file(args) -> dict:
    seed, index, n_docs, path = args
    import pyarrow as pa
    import pyarrow.parquet as pq

    pages = _shard_pages(seed, index, n_docs)
    table = pa.table(
        {
            "url": pa.array([p["url"] for p in pages], pa.string()),
            "warc_ts": pa.array(
                [p["warc_ts"].replace(tzinfo=None) for p in pages],
                pa.timestamp("us"),
            ),
            "html": pa.array([p["html"] for p in pages], pa.binary()),
            "text": pa.array([p["text"] for p in pages], pa.string()),
            "lang": pa.array([p["lang"] for p in pages], pa.string()),
        }
    )
    pq.write_table(table, path, row_group_size=PAGES_ROW_GROUP)
    return {
        "rows": table.num_rows,
        "urls": len({p["url"] for p in pages}),
        "html_bytes": sum(len(p["html"]) for p in pages),
    }


def _with_paragraph(page: dict, para: str) -> dict:
    """The page with one more article paragraph at the end; the
    extracted text gains ``"\\n" + para``."""
    html = page["html"].decode("utf-8")
    if html.count("</article>") != 1:
        raise ValueError(f"{page['url']}: not one <article>")
    html = html.replace("</article>", f"<p>{para}</p></article>")
    return dict(page, html=html.encode("utf-8"), text=page["text"] + "\n" + para)


def _ts_iso(ts) -> str:
    return ts.strftime("%Y-%m-%dT%H:%M:%SZ")


def _write_crawl_file(args) -> dict:
    """One ``.warc.gz`` file with planted truth; returns the expected
    per-stage counts for the records in it."""
    seed, index, n_docs, path = args
    from table_ocr_spark.sources.warc import build_warc_record, gzip_members

    rng = random.Random(_file_seed(seed, index) ^ 0x5EED)
    pages = _shard_pages(seed, index, n_docs)
    captures: dict = {}
    for p in pages:
        captures.setdefault(p["url"], []).append(p)
    docs = {u: caps[0] for u, caps in captures.items()}

    # planted sets come from single-capture docs that pass quality
    # with room to spare, so a planted change cannot flip the rule
    pool = sorted(
        u for u, caps in captures.items()
        if len(caps) == 1 and quality_pass(caps[0]["text"])
        and n_tokens(caps[0]["text"]) >= 40
    )
    rng.shuffle(pool)
    k = max(1, len(docs) // 50)
    exact_src, near_src, pii_src = pool[:k], pool[k:2 * k], pool[2 * k:3 * k]

    extra: list = []
    for i, u in enumerate(exact_src):
        extra.append(dict(docs[u], url=f"{u}-copy{i}"))
    for i, u in enumerate(near_src):
        # one more token on >= 40: Jaccard of 3-shingles stays >= 0.95
        variant = _with_paragraph(docs[u], f"variantword{i:04d}")
        extra.append(dict(variant, url=f"{u}-near{i}"))
    n_pii = 0
    for i, u in enumerate(pii_src):
        para = f"contact desk{i}@mail.example or 555-{i % 1000:03d}-{4000 + i:04d}"
        changed = _with_paragraph(docs[u], para)
        if quality_pass(changed["text"]):
            captures[u] = [changed]
            docs[u] = changed
            n_pii += 1

    records = []
    for caps in captures.values():
        for p in caps:
            records.append(
                build_warc_record(p["url"], _ts_iso(p["warc_ts"]), p["html"])
            )
    for p in extra:
        records.append(build_warc_record(p["url"], _ts_iso(p["warc_ts"]), p["html"]))
    n_png = max(1, len(docs) // 100)
    for i in range(n_png):
        records.append(
            build_warc_record(
                f"https://img.example/f{index:03d}/{i}.png",
                "2024-03-02T00:00:00Z",
                b"HTTP/1.1 200 OK\r\nContent-Type: image/png\r\n\r\n\x89PNG",
                http=False,
            )
        )
    rng.shuffle(records)
    with open(path, "wb") as f:
        f.write(gzip_members(records))

    texts = [p["text"] for p in docs.values()] + [p["text"] for p in extra]
    n_quality = sum(quality_pass(t) for t in texts)
    html_records = sum(len(c) for c in captures.values()) + len(extra)
    return {
        "n_input": html_records,
        "n_extracted": len(texts),
        "n_quality_pass": n_quality,
        "n_after_exact_dedup": n_quality - len(exact_src),
        "n_after_near_dedup": n_quality - len(exact_src) - len(near_src),
        "n_had_pii": n_pii,
        "records": len(records),
        "recaptures": len(pages) - len(captures),
        "non_html": n_png,
        "file_bytes": os.path.getsize(path),
    }


_KINDS = {
    "pages": (_write_pages_file, "part-{:03d}.parquet"),
    "crawl": (_write_crawl_file, "crawl-{:03d}.warc.gz"),
}


def corpus(root: str, kind: str, seed: int, n_docs: int, n_files: int,
           procs: int) -> dict:
    """Path and metadata of the ``kind`` corpus for ``(seed, n_docs)``,
    generating it with ``procs`` worker processes unless cached."""
    name = f"{kind}-seed{seed}-n{n_docs}-f{n_files}"
    path = os.path.join(root, name)
    meta_path = os.path.join(path, "_meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            return json.load(f)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    writer, pattern = _KINDS[kind]
    per_file = [n_docs // n_files + (i < n_docs % n_files) for i in range(n_files)]
    jobs = [
        (seed, i, per_file[i], os.path.join(path, pattern.format(i)))
        for i in range(n_files)
    ]
    with get_context("spawn").Pool(procs) as pool:
        parts = pool.map(writer, jobs)
    totals = {k: sum(p[k] for p in parts) for k in parts[0]}
    meta = {"path": path, "kind": kind, "seed": seed, "n_docs": n_docs,
            "n_files": n_files, **totals}
    with open(meta_path + ".tmp", "w") as f:
        json.dump(meta, f)
    os.replace(meta_path + ".tmp", meta_path)
    return meta
