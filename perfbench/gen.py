"""Seeded input generators for the validation benchmark.

Every input is a pure function of ``(seed, size)``: the same arguments give
files with identical contents. The engine never sees this module, only the
files it writes.

- ``pages``: the Common-Crawl-style ``pages`` table of
  ``sources.pages.pages`` (same columns, same planted anomaly rates: 1%
  duplicate urls, 2% null text, 0.5% out-of-enum lang), built with numpy
  and pyarrow so set-up stays a few seconds. Rows are written in
  ``page_id`` order across lexicographically ordered files, so
  file-positional order (the CLI's ``ord``) equals ``page_id`` order.
- ``catalog``: a fairtracks-style JSON-lines corpus over two schemas
  (sample, track) with a primary key per schema, a compound unique
  constraint, an array-member (fan-out) unique constraint, two foreign keys
  (track to sample), nested and array jPaths, parent-routed documents and
  orphans.
"""

from __future__ import annotations

import json
import os
import random

# restated from sources.pages rather than imported: the oracle shares these
# constants and must not depend on the engine
LANGS = ["en", "de", "es", "fr", "it", "pt", "nl", "pl"]
_LANG_CUM = [550, 730, 830, 900, 940, 970, 990, 1000]
_WORDS = [
    "data", "web", "page", "crawl", "text", "spark", "scale", "index", "token",
    "link", "site", "batch", "query", "table", "shard", "merge", "fetch",
    "parse", "store", "cache", "frame", "graph", "model", "train", "valid",
]


def _mix(x):
    """splitmix64 finaliser over a uint64 numpy array (wrapping arithmetic)."""
    import numpy as np

    x = x + np.uint64(0x9E3779B97F4A7C15)
    x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return x ^ (x >> np.uint64(31))


def _bucket(ids, seed: int, salt: int, mod: int = 1000):
    """Deterministic per-row hash bucket in ``[0, mod)``."""
    import numpy as np

    key = _mix(np.array([seed * 1000 + salt], dtype=np.uint64))[0]
    return (_mix(ids.astype(np.uint64) ^ key) % np.uint64(mod)).astype(np.int64)


def pages_table(rows: int, seed: int):
    """The ``pages`` rows as a pyarrow Table, ordered by ``page_id``."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    ids = np.arange(rows, dtype=np.int64)
    dup_b = _bucket(ids, seed, 0)
    prev_dup = np.concatenate([[False], dup_b[:-1] < 10]) & (ids - 1 > 0)
    is_dup = (dup_b < 10) & (ids > 0) & ~prev_dup
    src = np.where(is_dup, ids - 1, ids)

    lang_b = _bucket(ids, seed, 1)
    lang_i = np.searchsorted(np.array(_LANG_CUM), lang_b, side="right")
    lang_i[_bucket(ids, seed, 2) < 5] = len(LANGS)

    n_words = 20 + _bucket(src, seed, 3, 30) + np.where(lang_i == 0, 15, 0)
    ends = np.cumsum(n_words)
    starts = ends - n_words
    row_of = np.repeat(ids, n_words)
    k = np.arange(int(ends[-1]) if rows else 0, dtype=np.int64) - starts[row_of]
    word_idx = _bucket(src[row_of] * 131 + k, seed, 4, len(_WORDS))
    words = pa.array(_WORDS, pa.string()).take(pa.array(word_idx))
    body = pc.binary_join(
        pa.ListArray.from_arrays(pa.array(np.append(starts, ends[-1:]),
                                          pa.int32()), words),
        " ",
    )
    src_s = pc.cast(pa.array(src), pa.string())
    # 64-bit hash digits stand in for the reference generator's md5 suffix
    url = pc.binary_join_element_wise(
        "https://site", pc.cast(pa.array(src % 97), pa.string()),
        ".example/",
        pc.cast(pa.array(_mix(src.astype(np.uint64) ^ np.uint64(seed))),
                pa.string()),
        "",
    )
    html = pc.cast(pc.binary_join_element_wise(
        '<html><head><meta charset="utf-8" data-p="', src_s,
        '"/></head><body><p>', body, "</p></body></html>", "",
    ), pa.binary())
    null_text = _bucket(ids, seed, 5) < 20
    text = pc.if_else(pa.array(null_text), pa.scalar(None, pa.string()), body)
    return pa.table({
        "page_id": pa.array(ids, pa.int64()),
        "url": url,
        "warc_ts": pa.array((1_700_000_000 + ids) * 1_000_000,
                            pa.timestamp("us", tz="UTC")),
        "html": html,
        "text": text,
        "lang": pa.array(LANGS + ["xx"], pa.string()).take(pa.array(lang_i)),
    })


def write_pages(out_dir: str, rows: int, files: int, seed: int) -> None:
    """``rows`` pages rows as ``files`` parquet files under ``out_dir``."""
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    table = pages_table(rows, seed)
    per = -(-rows // files)
    for f in range(files):
        pq.write_table(
            table.slice(f * per, per),
            os.path.join(out_dir, f"part-{f:05d}.parquet"),
        )


SAMPLE = "ft/sample"
TRACK = "ft/track"
ORPHAN = "ft/unknown"
BIO_TYPES = ["cell line", "tissue", "primary cell"]
FORMATS = ["bed", "bigWig", "bigBed"]


def catalog_schemas() -> dict[str, dict]:
    """The two schemas (fairtracks extension keywords included)."""
    return {
        SAMPLE: {
            "$id": SAMPLE,
            "type": "object",
            "primary_key": ["sample_id"],
            "unique": ["biosample.term", "local_id"],
            "required": ["sample_id", "local_id"],
            "properties": {
                "sample_id": {"type": "string", "pattern": "^S[0-9]+$"},
                "local_id": {"type": "string"},
                "biosample": {
                    "type": "object",
                    "properties": {
                        "term": {"type": "string"},
                        "type": {"enum": BIO_TYPES},
                    },
                },
            },
        },
        TRACK: {
            "$id": TRACK,
            "type": "object",
            "primary_key": ["track_id"],
            "required": ["track_id", "sample_ref", "files"],
            "properties": {
                "track_id": {"type": "string"},
                "sample_ref": {"type": "string"},
                "control_ref": {"type": "string"},
                "files": {
                    "type": "array",
                    "minItems": 1,
                    "items": {
                        "type": "object",
                        "properties": {
                            "md5": {
                                "type": "string",
                                "pattern": "^[0-9a-f]{32}$",
                                "unique": True,
                            },
                            "format": {"enum": FORMATS},
                        },
                    },
                },
            },
            "foreign_keys": [
                {"schema_id": SAMPLE, "members": ["sample_ref"]},
                {"schema_id": SAMPLE, "members": ["control_ref"]},
            ],
        },
    }


def _md5ish(rng: random.Random) -> str:
    return "%032x" % rng.getrandbits(128)


def catalog_docs(docs: int, seed: int) -> list[dict]:
    """``docs`` documents in corpus order; ``_n`` is the position."""
    rng = random.Random(seed)
    out: list[dict] = []
    samples: list[dict] = []
    tracks: list[dict] = []
    for n in range(docs):
        r = rng.random()
        if r < 0.005:
            doc: dict = {"@schema": ORPHAN, "track_id": f"O{n}"}
        elif r < 0.405:
            k = len(samples)
            doc = {
                "sample_id": f"S{k}",
                "local_id": f"L{k}",
                "biosample": {
                    "term": f"UBERON:{rng.randrange(500):07d}",
                    "type": rng.choice(BIO_TYPES),
                },
            }
            x = rng.random()
            if samples and x < 0.01:
                doc["sample_id"] = samples[-1]["sample_id"]
            elif samples and x < 0.02 and "local_id" in samples[-1]:
                prev = samples[-1]
                doc["local_id"] = prev["local_id"]
                doc["biosample"]["term"] = prev["biosample"]["term"]
            elif x < 0.025:
                doc["sample_id"] = f"X{k}"
            elif x < 0.03:
                doc["biosample"]["type"] = "organoid"
            elif x < 0.035:
                del doc["local_id"]
            samples.append(doc)
            doc["@schema"] = SAMPLE
        else:
            k = len(tracks)
            doc = {
                "track_id": f"T{k}",
                "sample_ref": f"S{rng.randrange(max(1, len(samples)))}",
                "files": [
                    {"md5": _md5ish(rng), "format": rng.choice(FORMATS)}
                    for _ in range(1 + rng.randrange(3))
                ],
            }
            if rng.random() < 0.5:
                doc["control_ref"] = f"S{rng.randrange(max(1, len(samples)))}"
            x = rng.random()
            if tracks and x < 0.01:
                doc["track_id"] = tracks[-1]["track_id"]
            elif x < 0.02:
                doc["sample_ref"] = f"S{10**9 + k}"
            elif x < 0.025:
                doc["control_ref"] = f"S{10**9 + k}"
            elif x < 0.027:
                del doc["sample_ref"]
            elif tracks and x < 0.03:
                src = tracks[rng.randrange(len(tracks))]["files"]
                if src:
                    doc["files"][0]["md5"] = rng.choice(src)["md5"]
            elif x < 0.035:
                doc["files"][-1]["md5"] = "Z" * 32
            elif x < 0.04:
                doc["files"][0]["format"] = "wig"
            elif x < 0.043:
                doc["files"] = []
            tracks.append(doc)
            doc["@schema"] = TRACK
        if rng.random() < 0.1:
            # parent-routed: the discriminator sits under ``fair_tracks``
            doc["fair_tracks"] = {"@schema": doc.pop("@schema")}
        doc["_n"] = n
        out.append(doc)
    return out


def write_catalog(out_dir: str, docs: int, files: int, seed: int) -> None:
    """JSON-lines corpus: ``files`` files, contiguous ``_n`` ranges, in
    lexicographic file order."""
    os.makedirs(out_dir, exist_ok=True)
    all_docs = catalog_docs(docs, seed)
    per = -(-docs // files)
    for f in range(files):
        with open(os.path.join(out_dir, f"docs-{f:05d}.jsonl"), "w") as fh:
            for d in all_docs[f * per:(f + 1) * per]:
                fh.write(json.dumps(d, separators=(",", ":")) + "\n")


# rows/docs and file counts per workload part; "smoke" is the self-test size
SIZES = {
    "full": {
        "pages_batch": {"rows": 200_000, "files": 16},
        "pages_resumable": {"rows": 10_000, "files": 16},
        "catalog_fk": {"docs": 2_000, "files": 4},
        "pages_stream": {"rows": 20_000, "files": 6},
    },
    "smoke": {
        "pages_batch": {"rows": 5_000, "files": 4},
        "pages_resumable": {"rows": 5_000, "files": 4},
        "catalog_fk": {"docs": 3_000, "files": 4},
        "pages_stream": {"rows": 5_000, "files": 4},
    },
}
# a workload runs its parts one after the other in one Spark session, each
# on its own input under ``input/<part>``
PARTS = {
    "pages_resume_batch": ("pages_resumable", "pages_batch"),
    "catalog_stream": ("catalog_fk", "pages_stream"),
}
WORKLOAD_NAMES = list(PARTS)


def write_inputs(workload: str, size: str, out_dir: str, seed: int) -> None:
    spec = SIZES[size][workload]
    if workload == "catalog_fk":
        write_catalog(out_dir, spec["docs"], spec["files"], seed)
    else:
        write_pages(out_dir, spec["rows"], spec["files"], seed)
