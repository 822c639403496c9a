"""Benchmark workloads: inputs made from the seed, one timed pass, and
the check of that pass's output.

``extract_batch`` runs the extraction pipeline over a generated page
corpus; its check compares the written table with
``kernels.extract_document`` called directly on the same rows.
``curate`` runs a driver-contract query over a copy of the vendored
contract tables (``data/``, the sf0.1 ``documents`` and ``embeddings``)
whose row order the seed permutes; the result is order-free, so its
check compares against the DuckDB oracle digest in ``golden.json``
(see ``make_golden.py``).
"""

from __future__ import annotations

import hashlib
import json
import os
from concurrent.futures import ProcessPoolExecutor
from multiprocessing import get_context

from digest import extraction_line, frame_digest, lines_digest

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORK = os.path.join(BENCH_DIR, "_work")
DATA = os.path.join(BENCH_DIR, "data")
GOLDEN = os.path.join(BENCH_DIR, "golden.json")
CONTRACT_TABLES = ("documents", "embeddings")


def _md5_files(paths) -> str:
    h = hashlib.md5()
    for p in paths:
        with open(p, "rb") as fh:
            for chunk in iter(lambda: fh.read(1 << 20), b""):
                h.update(chunk)
    return h.hexdigest()


def _dir_files(path: str) -> list[str]:
    if os.path.isfile(path):
        return [path]
    out = []
    for root, _dirs, files in os.walk(path):
        out.extend(os.path.join(root, f) for f in files)
    return sorted(out)


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(p) for p in _dir_files(path))


def part_files(path: str) -> list[str]:
    return [p for p in _dir_files(path) if p.endswith(".parquet")]


def _expected_lines(part: str) -> list[str]:
    """Direct-kernel twin of one corpus part file (runs in a worker)."""
    import pyarrow.parquet as pq

    from ai_pdf_extraction_spark.kernels import extract_document

    t = pq.read_table(part, columns=["url", "html"])
    out = []
    for url, raw in zip(t.column("url").to_pylist(), t.column("html").to_pylist()):
        r = extract_document(raw or b"")
        spans = [{"start": s.start, "end": s.end, "kind": s.kind} for s in r.spans]
        out.append(extraction_line(url, r.text, spans, r.parse_ok))
    return out


def prepare_corpus(n_docs: int, seed: int, n_files: int, workers: int) -> tuple[str, str]:
    """Generate (or reuse) a page corpus and the digest its extraction
    must have. The digest comes from ``kernels.extract_document`` run
    directly on the rows, cached by corpus and kernel source content."""
    from ai_pdf_extraction_spark.corpus.generate import (
        CORPUS_VERSION,
        write_pages_parquet,
    )

    path = os.path.join(WORK, "inputs", f"pages-v{CORPUS_VERSION}-n{n_docs}-s{seed}-f{n_files}")
    if not os.path.exists(path):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        write_pages_parquet(path, n_docs, seed, n_files)
    parts = part_files(path)
    kernels = os.path.join(ROOT, "ai_pdf_extraction_spark", "kernels")
    cache = os.path.join(WORK, "expected", f"{_md5_files(parts + _dir_files(kernels))}.json")
    if os.path.exists(cache):
        with open(cache) as fh:
            return path, json.load(fh)["digest"]
    with ProcessPoolExecutor(workers, mp_context=get_context("spawn")) as pool:
        lines = [line for part in pool.map(_expected_lines, parts) for line in part]
    digest = lines_digest(lines)
    os.makedirs(os.path.dirname(cache), exist_ok=True)
    with open(cache, "w") as fh:
        json.dump({"digest": digest, "docs": len(lines)}, fh)
    return path, digest


def extraction_ok(df, n_docs: int, digest: str) -> bool:
    """The written extraction holds exactly the expected documents."""
    pdf = df.select("url", "extracted_text", "spans", "parse_ok").toPandas()
    lines = [
        extraction_line(u, t, s, ok)
        for u, t, s, ok in zip(pdf["url"], pdf["extracted_text"], pdf["spans"], pdf["parse_ok"])
    ]
    return len(lines) == n_docs and lines_digest(lines) == digest


class ExtractBatch:
    """``run_extraction`` over a generated corpus into a fresh
    SnapshotTable, one commit for all buckets."""

    kind = "extract"
    warm_pass = True

    def __init__(self, name: str, n_docs: int, n_files: int, n_buckets: int):
        self.name, self.n_docs, self.n_files, self.n_buckets = name, n_docs, n_files, n_buckets

    def prepare(self, seed: int, workers: int) -> None:
        self.input, self.expected = prepare_corpus(self.n_docs, seed, self.n_files, workers)
        self.input_bytes = dir_bytes(self.input)

    def run_pass(self, spark, pass_dir: str, pass_id: str, span) -> dict:
        from ai_pdf_extraction_spark.plans.pipeline import run_extraction

        out = os.path.join(pass_dir, "out")
        with span("plans.pipeline.run_extraction"):
            res = run_extraction(spark, self.input, out, run_id=pass_id, n_buckets=self.n_buckets)
        if res["docs"] != self.n_docs:
            raise RuntimeError(f"run_extraction committed {res['docs']} of {self.n_docs} docs")
        return {"out": out}

    def check(self, spark, result: dict) -> bool:
        from ai_pdf_extraction_spark.sources.snapshot_table import SnapshotTable

        table = SnapshotTable(result["out"]).read(spark)
        return extraction_ok(table, self.n_docs, self.expected)


class ContractQueries:
    """Driver-contract queries from ``__spark_entry__.queries()``, each
    collected to the driver; the pass ends when the last result is in.

    No warm pass: a first q79 pass takes ~45 s and a warm one ~25 s on a
    4-core host, and a run holding both does not fit the run budget. The
    timed pass is the session's first, so its one-time costs (codegen,
    Python worker start, module imports) are part of ``wall_s``."""

    kind = "queries"
    warm_pass = False

    def __init__(self, name: str, queries: tuple[str, ...]):
        self.name, self.queries = name, queries

    def prepare(self, seed: int, workers: int) -> None:
        import numpy as np
        import pyarrow.parquet as pq

        with open(GOLDEN) as fh:
            golden = json.load(fh)
        src = [os.path.join(DATA, f"{t}.parquet") for t in CONTRACT_TABLES]
        if _md5_files(src) != golden["inputs_md5"]:
            raise RuntimeError("perfbench/data changed: re-run perfbench/make_golden.py")
        self.golden = golden["queries"]
        self.sf_dir = os.path.join(WORK, "inputs", f"contract-{golden['inputs_md5'][:12]}-s{seed}")
        if not os.path.exists(self.sf_dir):
            tmp = f"{self.sf_dir}.tmp-{os.getpid()}"
            os.makedirs(tmp, exist_ok=True)
            rng = np.random.default_rng(seed)
            for t, path in zip(CONTRACT_TABLES, src):
                tbl = pq.read_table(path)
                tbl = tbl.take(rng.permutation(tbl.num_rows))
                # one row group, as in the contract testdata
                pq.write_table(tbl, os.path.join(tmp, f"{t}.parquet"), row_group_size=tbl.num_rows)
            os.rename(tmp, self.sf_dir)
        self.input_bytes = dir_bytes(self.sf_dir)
        self.n_docs = pq.ParquetFile(os.path.join(self.sf_dir, "documents.parquet")).metadata.num_rows

    def run_pass(self, spark, pass_dir: str, pass_id: str, span) -> dict:
        import __spark_entry__

        fns = __spark_entry__.queries()
        frames, query_s, dfs = {}, {}, {}
        for q in self.queries:
            with span(f"__spark_entry__.{q}") as s:
                with span("build"):
                    df = fns[q](spark, self.sf_dir)
                with span("collect"):
                    frames[q] = df.toPandas()
            query_s[q] = s["duration"]
            dfs[q] = df
        return {"frames": frames, "query_s": query_s, "dfs": dfs}

    def check(self, spark, result: dict) -> bool:
        return all(frame_digest(result["frames"][q]) == self.golden[q] for q in self.queries)


# Sizes fit the run budget on a 4-core host: 8 files give each core two
# scan tasks, and 16 buckets keep the written file count (tasks x
# buckets) small enough that kernel time, not file creation, leads.
WORKLOADS = {
    w.name: w
    for w in (
        ExtractBatch("extract_batch", n_docs=8000, n_files=8, n_buckets=16),
        ContractQueries("curate", ("q79_curated_corpus_v5",)),
    )
}
