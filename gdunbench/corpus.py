"""Seeded corpora for the benchmark, cached on disk as parquet.

A corpus is ``sources.fixtures.generate`` output written once per
(seed, size, generator-source hash) key. The source hash covers the files
whose code decides the generated rows, so an edited generator can never be
served a stale corpus from an earlier checkout state.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from dataclasses import dataclass
from pathlib import Path

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from gduns_name_match_spark.functions import normalize as _normalize
from gduns_name_match_spark.sources import fixtures as fx

# generate() imports its suffix word lists from normalize.py
_GENERATOR_SOURCES = (fx.__file__, _normalize.__file__)

_SPAN = pa.struct(
    [("kind", pa.string()), ("text", pa.string()),
     ("media_ref", pa.string()), ("offset", pa.int32())]
)
_DOCS_SCHEMA = pa.schema([("doc_id", pa.string()), ("spans", pa.list_(_SPAN))])
_DOC_FILES = 8


@dataclass(frozen=True)
class CorpusSpec:
    n_docs: int
    seed: int

    @property
    def n_groups(self) -> int:
        return max(self.n_docs // 5, 1)

    def key(self) -> str:
        h = hashlib.sha256()
        h.update(json.dumps(
            {"n_docs": self.n_docs, "n_groups": self.n_groups,
             "seed": self.seed, "typos": True}, sort_keys=True).encode())
        for path in _GENERATOR_SOURCES:
            h.update(Path(path).read_bytes())
        return h.hexdigest()[:20]


@dataclass
class Corpus:
    directory: Path
    truth: pd.DataFrame  # mention_id, doc_id, true_gdun, ambiguous, ...

    @property
    def documents_path(self) -> str:
        return str(self.directory / "documents.parquet")

    @property
    def registry_path(self) -> str:
        return str(self.directory / "registry.parquet")


def _write(spec: CorpusSpec, out: Path) -> None:
    f = fx.generate(n_docs=spec.n_docs, seed=spec.seed, typos=True,
                    n_groups=spec.n_groups)
    docs = pa.Table.from_pylist(
        [{"doc_id": r["doc_id"],
          "spans": [dict(zip(("kind", "text", "media_ref", "offset"), s))
                    for s in r["spans"]]}
         for r in f.documents_rows],
        schema=_DOCS_SCHEMA,
    )
    # several files, so a scan splits into parallel tasks without a shuffle
    parts = out / "documents.parquet"
    parts.mkdir()
    step = -(-docs.num_rows // _DOC_FILES)
    for i in range(0, docs.num_rows, step):
        pq.write_table(docs.slice(i, step), parts / f"part-{i // step:05d}.parquet")
    pq.write_table(pa.Table.from_pylist(f.registry_rows), out / "registry.parquet")
    pq.write_table(pa.Table.from_pylist(f.mention_truth), out / "truth.parquet")


def load(spec: CorpusSpec, cache_root: Path) -> Corpus:
    """Return the cached corpus for ``spec``, generating it on a miss.

    Generation writes into a private temp directory that is renamed into
    place, so a concurrent or interrupted run never leaves a partial corpus
    under the final key."""
    final = cache_root / spec.key()
    if not final.exists():
        cache_root.mkdir(parents=True, exist_ok=True)
        tmp = cache_root / f".tmp-{spec.key()}-{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        tmp.mkdir()
        try:
            _write(spec, tmp)
            os.rename(tmp, final)
        except OSError:
            # another run renamed the same key into place first
            if not final.exists():
                raise
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    truth = pq.read_table(final / "truth.parquet").to_pandas()
    return Corpus(directory=final, truth=truth)
