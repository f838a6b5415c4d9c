"""Workload definitions: which queries each query workload runs, the
identity of the shipped input tables, and the seeded Criteo-shaped feed
with its independent numpy reference."""

from __future__ import annotations

import hashlib
import os

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
SF_DIR = os.path.join(HERE, "data", "sf0.01")
EXPECTED = os.path.join(HERE, "expected.json")

#: Headline queries by the layers they load.  ``analytics`` queries are
#: relational and time-series: JVM codegen and shuffle do the work and no
#: job runs while they are built.  ``curation`` queries are text dedup,
#: tokenizers and codecs: jobs run during the build, q41's BPE runs as
#: one task, q42 uses the cosine pair kernel and q172 decodes GIF frames
#: in Python workers.
QUERY_CLASSES = {
    "analytics": ["q01", "q03", "q27", "q98"],
    "curation": ["q41", "q42", "q173", "q172"],
}
QUERY_WORKLOADS = {"queries": QUERY_CLASSES["analytics"] + QUERY_CLASSES["curation"]}
QUERY_CLASS = {q: c for c, qs in QUERY_CLASSES.items() for q in qs}


def query_names(workload: str, headline: list[str]) -> list[str]:
    """Names are resolved against ``bench.HEADLINE``, so a workload can
    only hold headline queries."""
    by_prefix = {n.split("_", 1)[0]: n for n in headline}
    return [by_prefix[p] for p in QUERY_WORKLOADS[workload]]


def input_identity(sf_dir: str = SF_DIR) -> str:
    """Content hash of every table file: the key expected hashes are
    stored under, so a changed table can never be checked against a
    stale expectation."""
    h = hashlib.sha256()
    for name in sorted(os.listdir(sf_dir)):
        if name.endswith(".parquet"):
            h.update(name.encode())
            with open(os.path.join(sf_dir, name), "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


# ---------------------------------------------------------------------------
# train_feed: Criteo-shaped rows and the reference pipeline

N_DENSE = 13
N_SPARSE = 26
FEED_ROWS = 192
FEED_FILES = 3  # one file per input partition (up to the core count), one Spark job each
FEED_BATCH = 64  # rows per input partition: every batch waits for one Spark job
MAX_LIST_LEN = 12  # ragged sparse lists: 0..MAX_LIST_LEN ids per row
FIRSTX = 8
HASH_MAX = 100_000
BUCKET_BORDERS = [1.0, 5.0, 20.0]


def make_feed(seed: int, out_dir: str) -> dict:
    """Write FEED_ROWS seeded rows as FEED_FILES parquet files (13
    nullable dense doubles, 26 ragged int64 id lists, a label) and return
    the same rows as numpy arrays for the reference pipeline."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    n = FEED_ROWS
    rows = {"row_id": np.arange(n, dtype=np.int64),
            "label": rng.integers(0, 2, n).astype(np.int32)}
    for j in range(N_DENSE):
        rows[f"d{j}"] = (rng.exponential(10.0, n), rng.random(n) < 0.2)
    for j in range(N_SPARSE):
        lens = rng.integers(0, MAX_LIST_LEN + 1, n)
        offsets = np.concatenate([[0], np.cumsum(lens)]).astype(np.int32)
        ids = rng.integers(-(2**63), 2**63 - 1, int(offsets[-1]), dtype=np.int64)
        rows[f"s{j}"] = (offsets, ids)

    os.makedirs(out_dir, exist_ok=True)
    bounds = np.linspace(0, n, FEED_FILES + 1).astype(int)
    for f, (lo, hi) in enumerate(zip(bounds[:-1], bounds[1:])):
        cols = {"row_id": pa.array(rows["row_id"][lo:hi]),
                "label": pa.array(rows["label"][lo:hi])}
        for j in range(N_DENSE):
            v, null = rows[f"d{j}"]
            cols[f"d{j}"] = pa.array(v[lo:hi], mask=null[lo:hi])
        for j in range(N_SPARSE):
            offsets, ids = rows[f"s{j}"]
            part = offsets[lo:hi + 1]
            cols[f"s{j}"] = pa.ListArray.from_arrays(
                pa.array(part - part[0], type=pa.int32()),
                pa.array(ids[part[0]:part[-1]]),
            )
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"part-{f:02d}.parquet"))
    return rows


def feed_frame(spark, path: str):
    """The measured pipeline, through the engine's public API: dense
    ``fill_null`` then ``log(x+3)``, a ``bucketize`` of one dense column,
    and ``sigrid_hash`` then ``firstx`` on every sparse list."""
    import torcharrow_spark as ts
    from torcharrow_spark import functional as fn
    from torcharrow_spark import me

    df = ts.read_parquet(path, spark)
    cols = {"row_id": me["row_id"], "label": me["label"]}
    for j in range(N_DENSE):
        cols[f"d{j}"] = (me[f"d{j}"].fill_null(0.0) + 3.0).log()
    cols["d0_bucket"] = fn.bucketize(me["d0"].fill_null(0.0), BUCKET_BORDERS)
    for j in range(N_SPARSE):
        cols[f"s{j}"] = fn.firstx(fn.sigrid_hash(me[f"s{j}"], j, HASH_MAX), FIRSTX)
    return df.select(**cols)


_U64 = np.uint64


def _twang_mix64(k: np.ndarray) -> np.ndarray:
    k = (~k) + (k << _U64(21))
    k ^= k >> _U64(24)
    k = k + (k << _U64(3)) + (k << _U64(8))
    k ^= k >> _U64(14)
    k = k + (k << _U64(2)) + (k << _U64(4))
    k ^= k >> _U64(28)
    return k + (k << _U64(31))


def _hash128_to_64(upper: np.ndarray, lower: np.ndarray) -> np.ndarray:
    kmul = _U64(0x9DDFEA08EB382D69)
    a = (lower ^ upper) * kmul
    a ^= a >> _U64(47)
    b = (upper ^ a) * kmul
    b ^= b >> _U64(47)
    return b * kmul


def sigrid_hash_ref(ids: np.ndarray, salt: int, max_value: int) -> np.ndarray:
    """uint64 sigrid_hash: hash_combine(salt, twang_mix64(v)), then the
    hash as signed int64 mod max_value, rounded toward -inf."""
    with np.errstate(over="ignore"):
        h = _hash128_to_64(np.full(ids.shape, salt, dtype=_U64),
                           _twang_mix64(ids.astype(np.int64).view(_U64)))
    if max_value == 1:
        return np.zeros(ids.shape, dtype=np.int64)
    return np.mod(h.view(np.int64), np.int64(max_value))


def reference(rows: dict) -> dict:
    """Expected feed output per row_id, computed without Spark."""
    out = {"row_id": rows["row_id"], "label": rows["label"]}
    for j in range(N_DENSE):
        v, null = rows[f"d{j}"]
        out[f"d{j}"] = np.log(np.where(null, 0.0, v) + 3.0)
    v0, null0 = rows["d0"]
    filled = np.where(null0, 0.0, v0)
    out["d0_bucket"] = sum((filled >= b).astype(np.int32) for b in BUCKET_BORDERS)
    for j in range(N_SPARSE):
        offsets, ids = rows[f"s{j}"]
        hashed = sigrid_hash_ref(ids, j, HASH_MAX)
        out[f"s{j}"] = [hashed[offsets[i]:min(offsets[i + 1], offsets[i] + FIRSTX)]
                        for i in range(len(offsets) - 1)]
    return out


def _plain(col):
    """interop_torch container -> (values, presence or None)."""
    if hasattr(col, "presence"):
        return col.values, np.asarray(col.presence)
    return col, None


def check_feed(batches: list[dict], expected: dict) -> tuple[set[int], list[str]]:
    """Compare delivered tensor batches with the reference.  Returns the
    indices of wrong batches and a description of every mismatch; a row
    never delivered or delivered twice marks the whole pass wrong."""
    bad: set[int] = set()
    errors: list[str] = []

    def fail(k: int, msg: str) -> None:
        bad.add(k)
        errors.append(f"batch {k}: {msg}")

    seen = np.zeros(FEED_ROWS, dtype=int)
    for k, b in enumerate(batches):
        rid = np.asarray(b["row_id"])
        seen[rid] += 1
        for j in range(N_DENSE):
            got, presence = _plain(b[f"d{j}"])
            if presence is not None and not presence.all():
                fail(k, f"d{j} null after fill_null")
            elif not np.allclose(np.asarray(got), expected[f"d{j}"][rid], rtol=1e-14, atol=0):
                fail(k, f"d{j} value mismatch")
        for name in ("d0_bucket", "label"):
            if not np.array_equal(np.asarray(b[name]), expected[name][rid]):
                fail(k, f"{name} value mismatch")
        for j in range(N_SPARSE):
            packed, _ = _plain(b[f"s{j}"])
            offsets = np.asarray(packed.offsets)
            values = np.asarray(packed.values)
            for i, r in enumerate(rid):
                if not np.array_equal(values[offsets[i]:offsets[i + 1]], expected[f"s{j}"][r]):
                    fail(k, f"s{j} list mismatch at row {r}")
                    break
    if (seen != 1).any():
        bad.update(range(len(batches)))
        errors.append(f"{int((seen == 0).sum())} rows missing, {int((seen > 1).sum())} repeated")
    return bad, errors
