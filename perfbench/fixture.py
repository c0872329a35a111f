"""Seeded generator of the token-sequence table the three workloads read.

The table has the engine's input schema
``(doc_id string, tokens array<int>, n_tok int, source string)`` and the
shape of ``tools/scaling_bench.py``:

- ``source`` is ``src<k>`` for ``k < n_sources``; rows with ``id % 5 == 0``
  all land in ``src0`` (about 20% of rows, the skewed partition), so the
  partitions are ``src0..src<n-1>`` plus ``src_unknown``;
- 16-48 tokens per row, token ids below the GPT-2 vocabulary size;
- three injected defects: every 97th row is appended twice (``unique``),
  every 113th row declares ``n_tok`` off by one (``n_tok_consistency``),
  every 131st row has source ``src_unknown`` (``referential``).

Token ids and lengths come from ``numpy.random.default_rng(seed)``, so one
seed gives byte-identical parquet on every run. Output is cached per
``(seed, rows, sources)`` under the benchmark's ignored cache directory;
generation is columnar numpy/pyarrow and never starts Spark, so no timed
window of the benchmark includes it.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = 50257
DUP_MOD = 97
BAD_NTOK_MOD = 113
BAD_SOURCE_MOD = 131
BAD_SOURCE = "src_unknown"
CACHE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                         ".cache", "fixtures")


def _doc_ids(ids: np.ndarray) -> pa.Array:
    """``doc-<10 digits>`` strings built from digit arithmetic (no per-row
    Python formatting)."""
    width = 14
    buf = np.empty((len(ids), width), dtype=np.uint8)
    buf[:, :4] = np.frombuffer(b"doc-", dtype=np.uint8)
    rest = ids.astype(np.int64)
    for k in range(width - 1, 3, -1):
        buf[:, k] = 48 + rest % 10
        rest //= 10
    offsets = np.arange(0, (len(ids) + 1) * width, width, dtype=np.int32)
    return pa.StringArray.from_buffers(
        len(ids), pa.py_buffer(offsets), pa.py_buffer(buf.tobytes()))


def build_table(seed: int, rows: int, n_sources: int) -> pa.Table:
    """The fixture as an Arrow table; ``rows`` counts base rows before the
    duplicate defect appends every 97th again."""
    if rows < 1 or n_sources < 1:
        raise ValueError(f"fixture needs rows >= 1 and n_sources >= 1, "
                         f"got rows={rows} n_sources={n_sources}")
    rng = np.random.default_rng(seed)
    ids = np.arange(rows, dtype=np.int64)
    n_tok = rng.integers(16, 49, size=rows, dtype=np.int32)
    offsets = np.zeros(rows + 1, dtype=np.int32)
    np.cumsum(n_tok, out=offsets[1:])
    tokens = pa.ListArray.from_arrays(
        pa.array(offsets),
        pa.array(rng.integers(0, VOCAB, size=int(offsets[-1]),
                              dtype=np.int32)))
    declared = np.where(ids % BAD_NTOK_MOD == 0, n_tok + 1, n_tok) \
        .astype(np.int32)
    # the other 80% spread evenly over src1..src<n-1>; dictionary index
    # n_sources is src_unknown
    rest = 1 + (ids // 5) % (n_sources - 1) if n_sources > 1 else 0
    src_idx = np.where(ids % 5 == 0, 0, rest)
    src_idx = np.where(ids % BAD_SOURCE_MOD == 0, n_sources, src_idx) \
        .astype(np.int32)
    names = pa.array([f"src{k}" for k in range(n_sources)] + [BAD_SOURCE])
    source = pa.DictionaryArray.from_arrays(pa.array(src_idx), names) \
        .dictionary_decode()
    table = pa.table({"doc_id": _doc_ids(ids), "tokens": tokens,
                      "n_tok": pa.array(declared), "source": source})
    dup = np.flatnonzero(ids % DUP_MOD == 0)
    return pa.concat_tables([table, table.take(pa.array(dup))])


def fixture_path(seed: int, rows: int, n_sources: int, files: int) -> str:
    """Parquet directory for ``(seed, rows, n_sources, files)``, generated on
    first use. ``files`` part files give the scan that many splits."""
    path = os.path.join(CACHE_DIR,
                        f"seq_s{seed}_r{rows}_p{n_sources}_f{files}")
    if os.path.isdir(path):
        return path
    table = build_table(seed, rows, n_sources)
    tmp = path + f".tmp{os.getpid()}"
    os.makedirs(tmp)
    step = -(-table.num_rows // files)
    for i in range(files):
        pq.write_table(table.slice(i * step, step),
                       os.path.join(tmp, f"part-{i:05d}.parquet"))
    os.replace(tmp, path)
    return path
