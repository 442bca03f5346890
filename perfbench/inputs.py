"""Seeded benchmark inputs, generated without a JVM (numpy, pyarrow and
plain Python, in a child process) and cached on disk.

Generation never touches the JVM, so a run whose inputs come from the cache
and a run that had to generate them start Spark equally cold, and neither
counts generation in ``setup_s``. Every artifact is a deterministic function
of ``(workload, seed, scale)``; the cache key is exactly that triple.

The output checks' oracles come from these inputs, not from the engine
under test: a parquet copy of the binlog for ``datagen``'s
``expected_final_state``, and the live corpus replayed in Python
(:func:`live_corpus`).
"""

from __future__ import annotations

import binascii
import hashlib
import json
import os
import random
import shutil
import subprocess
import sys
from dataclasses import asdict, dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# the engine's own spec dataclass: its fields (events, repos, paths, skew,
# op mix, seed) define the binlog; only the byte-level PRNG differs from
# datagen.generate_binlog, which needs a JVM
from plugin_singer_spark.datagen import BinlogSpec
from plugin_singer_spark.datagen.binlog import LANGS

CACHE_KEEP = 2  # cached input sets kept per workload (oldest evicted first)

BINLOG_SCHEMA = pa.schema(
    [
        ("seq", pa.int64()),
        ("op", pa.string()),
        ("repo", pa.string()),
        ("path", pa.string()),
        ("commit", pa.string()),
        ("lang", pa.string()),
        ("content", pa.string()),
    ]
)
DOC_SCHEMA = pa.schema(
    [("doc_id", pa.int64()), ("text", pa.string()), ("op", pa.string()), ("seq", pa.int64())]
)


def _events(spec: BinlogSpec, first_seq: int, seed: int) -> pa.Table:
    """BinlogSpec-shaped change events, built column-wise: mega-repo skew,
    I/U/D mix, ~200-char content that is a function of (repo, path, seq)."""
    n = spec.num_events
    rng = np.random.default_rng([seed, 0xCDC])
    seq = np.arange(first_seq, first_seq + n, dtype=np.int64)
    repo_id = np.where(rng.random(n) < spec.mega_share, 0, rng.integers(1, spec.num_repos, n))
    path_id = rng.integers(0, spec.paths_per_repo, n)
    u = rng.random(n)
    op = pc.take(pa.array(["D", "I", "U"]), (u >= spec.delete_share).astype(np.int8)
                 + (u >= spec.delete_share + spec.insert_share))
    lang = pc.take(pa.array(LANGS), path_id % len(LANGS))  # a path keeps its language
    # 64 random bits per event, as 16 hex digits
    commit = pa.array(np.frombuffer(binascii.hexlify(rng.bytes(8 * n)), dtype="S16"), pa.string())

    def txt(a):
        return pc.cast(pa.array(a), pa.string())

    repo_s, path_s, seq_s = txt(repo_id), txt(path_id), txt(seq)
    content = pc.if_else(
        pc.equal(op, "D"),
        pa.nulls(n, pa.string()),
        _join("// file ", path_s, " of repo ", repo_s, "\nrev=", seq_s, "\n",
              pc.binary_repeat(_join("x", commit), 10)),
    )
    return pa.table(
        {
            "seq": seq,
            "op": op,
            "repo": _join("org-", txt(repo_id % 10), "/proj-", repo_s),
            "path": _join("src/", txt(path_id % 20), "/f", path_s, ".", lang),
            "commit": commit,
            "lang": lang,
            "content": content,
        },
        schema=BINLOG_SCHEMA,
    )


def _join(*parts) -> pa.Array:
    return pc.binary_join_element_wise(*parts, "")


def singer_lines(ev: pa.Table) -> pa.Array:
    """One Singer RECORD message per event, newline-terminated, the shape
    datagen.binlog_to_singer_jsonl renders (``seq`` rides the envelope):
    byte for byte what ``json.dumps`` of the message gives, since every
    field is plain ASCII and the only character that needs escaping is the
    newline in ``content``."""
    off = pa.array(1704067200 + ev["seq"].to_numpy() % 31_536_000, pa.timestamp("s"))
    ts = pc.strftime(off, format="%Y-%m-%dT%H:%M:%SZ")
    content = pc.fill_null(
        _join('"', pc.replace_substring(ev["content"], "\n", "\\n"), '"'), "null")
    return _join(
        '{"type": "RECORD", "stream": "repos", "seq": ', pc.cast(ev["seq"], pa.string()),
        ', "record": {"repo": "', ev["repo"], '", "path": "', ev["path"], '", "commit": "',
        ev["commit"], '", "lang": "', ev["lang"], '", "content": ', content, ', "op": "',
        ev["op"], '"}, "time_extracted": "', ts, '"}\n',
    )


def _write_table(rows: list[dict], schema: pa.Schema, path: str) -> None:
    pq.write_table(pa.Table.from_pylist(rows, schema=schema), path)


# ---------------------------------------------------------------- cdc_replay


@dataclass(frozen=True)
class CdcSize:
    events_per_file: int  # one file is one replay epoch
    files: int
    repos: int
    paths: int


CDC_SIZES = {
    "full": CdcSize(events_per_file=40_000, files=8, repos=30, paths=500),
    "tiny": CdcSize(events_per_file=1_000, files=6, repos=10, paths=100),
}


def gen_cdc_replay(out: str, seed: int, size: CdcSize) -> dict:
    spec = BinlogSpec(
        num_events=size.events_per_file * size.files,
        num_repos=size.repos,
        paths_per_repo=size.paths,
        seed=seed,
    )
    ev = _events(spec, 1, seed)
    lines = singer_lines(ev).combine_chunks()
    _, offsets, data = lines.buffers()
    offsets = np.frombuffer(offsets, np.int32)[lines.offset :]
    jsonl = os.path.join(out, "jsonl")
    os.makedirs(jsonl)
    n = size.events_per_file
    for f in range(size.files):
        # the file is the lines' bytes end to end, each line ending in "\n"
        lo, hi = int(offsets[f * n]), int(offsets[(f + 1) * n])
        with open(os.path.join(jsonl, f"part-{f:05d}.txt"), "wb") as fh:
            fh.write(memoryview(data)[lo:hi])
    # parquet twin of the same events: input of datagen's expected_final_state
    pq.write_table(ev, os.path.join(out, "binlog.parquet"))
    return {"spec": asdict(spec), "events": ev.num_rows}


# ------------------------------------------------------------- neardup_index


@dataclass(frozen=True)
class NeardupSize:
    corpus: int
    batch_docs: int
    batches: int


NEARDUP_SIZES = {
    "full": NeardupSize(corpus=5_000, batch_docs=300, batches=16),
    "tiny": NeardupSize(corpus=400, batch_docs=60, batches=6),
}


class _DocGen:
    """12-word synthetic docs (8-hex-digit words); a near-dup keeps the first
    11 words of its partner, so 3-shingle Jaccard ≈ 0.82."""

    def __init__(self, seed: int):
        self.seed = seed
        self.rng = random.Random(f"neardup_index:{seed}")
        self.n = 0

    def words(self, k: int) -> list[str]:
        out = []
        for _ in range(k):
            self.n += 1
            out.append(hashlib.md5(f"{self.seed}:{self.n}".encode()).hexdigest()[:8])
        return out

    def fresh(self) -> str:
        return " ".join(self.words(12))

    def near(self, partner: str) -> str:
        return " ".join(partner.split(" ")[:11] + self.words(1))

    def short(self) -> str:
        # below the 3-shingle width: the doc bands to nothing — the stale-
        # bucket case an index update must still clear
        return " ".join(self.words(self.rng.randrange(0, 3)))


# share of each change kind in a batch; exact counts, so every seed gives
# batches of the same shape and only the documents differ. The shares are
# not taken from any measured workload: they are picked so that every kind
# of change (insert, update, update below the shingle width, delete, and a
# near-dup on either side) is present in each batch in a visible amount.
BATCH_MIX = {
    "new": 0.32,
    "new_near": 0.13,  # new doc, near-dup of a live doc
    "upd_fresh": 0.20,
    "upd_near": 0.12,  # update into a near-dup of another live doc
    "upd_short": 0.08,  # update to a short or empty text
    "delete": 0.15,
}


def gen_neardup_index(out: str, seed: int, size: NeardupSize) -> dict:
    g = _DocGen(seed)
    rng = g.rng
    live: dict[int, str] = {}
    for i in range(size.corpus):
        # every tenth doc is a planted near-dup of its predecessor
        live[i] = g.near(live[i - 1]) if i % 10 == 5 else g.fresh()
    _write_table(
        [{"doc_id": i, "text": t, "op": "I", "seq": 0} for i, t in live.items()],
        DOC_SCHEMA,
        os.path.join(out, "corpus.parquet"),
    )
    counts = {k: round(v * size.batch_docs) for k, v in BATCH_MIX.items()}
    counts["new"] += size.batch_docs - sum(counts.values())
    os.makedirs(os.path.join(out, "batches"))
    next_id = size.corpus
    for b in range(size.batches):
        seq = b + 1
        ids = list(live)
        old_kinds = [k for k in counts if not k.startswith("new")]
        targets = rng.sample(ids, sum(counts[k] for k in old_kinds))
        assigned, at = {}, 0
        for k in old_kinds:
            assigned[k], at = targets[at : at + counts[k]], at + counts[k]
        # the first new near-dups copy the text a short update is about to
        # replace: the index still holds the shortened doc's old bands, so
        # these pairs become candidates that verify must reject
        partners = [live[d] for d in assigned["upd_short"]]
        rows = []
        for kind, n in counts.items():
            for j in range(n):
                if kind.startswith("new"):
                    doc, op, next_id = next_id, "I", next_id + 1
                else:
                    doc, op = assigned[kind][j], ("D" if kind == "delete" else "U")
                if kind == "new_near" and j < len(partners):
                    text = g.near(partners[j])
                else:
                    text = {
                        "new": g.fresh,
                        "upd_fresh": g.fresh,
                        "upd_short": g.short,
                        "delete": lambda: None,
                    }.get(kind, lambda: g.near(live[rng.choice(ids)]))()
                rows.append({"doc_id": doc, "text": text, "op": op, "seq": seq})
        for r in rows:
            if r["op"] == "D":
                live.pop(r["doc_id"], None)
            else:
                live[r["doc_id"]] = r["text"]
        _write_table(rows, DOC_SCHEMA, os.path.join(out, "batches", f"batch-{b:05d}.parquet"))
    return {"batches": size.batches, "batch_mix": counts}


def live_corpus(inputs_dir: str, through_batch: int) -> dict[int, str]:
    """Live documents after folding batches 0..through_batch over the corpus
    (the oracle's view; read back from the cached parquet files)."""
    live = {
        r["doc_id"]: r["text"]
        for r in pq.read_table(os.path.join(inputs_dir, "corpus.parquet")).to_pylist()
    }
    for b in range(through_batch + 1):
        for r in pq.read_table(
            os.path.join(inputs_dir, "batches", f"batch-{b:05d}.parquet")
        ).to_pylist():
            if r["op"] == "D":
                live.pop(r["doc_id"], None)
            else:
                live[r["doc_id"]] = r["text"]
    return live


# ----------------------------------------------------------------- the cache

GENERATORS = {
    "cdc_replay": (gen_cdc_replay, CDC_SIZES),
    "neardup_index": (gen_neardup_index, NEARDUP_SIZES),
}


def ensure_inputs(cache_root: str, workload: str, seed: int, scale: str) -> tuple[str, object]:
    """Return (directory, size) of the cached inputs for the triple,
    generating them first when absent, in a child process: the generator's
    memory then never shows in the benchmark process's peak RSS."""
    size = GENERATORS[workload][1][scale]
    out = os.path.join(cache_root, workload, f"seed{seed}-{scale}")
    if os.path.exists(os.path.join(out, "meta.json")):
        os.utime(out)
        return out, size
    env = dict(os.environ, PYTHONPATH=os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    subprocess.run([sys.executable, os.path.abspath(__file__), cache_root, workload, str(seed),
                    scale], env=env, check=True)
    return out, size


def generate(cache_root: str, workload: str, seed: int, scale: str) -> None:
    """Write the inputs of the triple; a directory is published only once
    complete (rename of a fully written temp dir)."""
    gen, sizes = GENERATORS[workload]
    size = sizes[scale]
    root = os.path.join(cache_root, workload)
    out = os.path.join(root, f"seed{seed}-{scale}")
    os.makedirs(root, exist_ok=True)
    tmp = out + ".partial"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    meta = gen(tmp, seed, size)
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump({"workload": workload, "seed": seed, "scale": scale, **meta}, f)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    _evict(root, keep=out)


def _evict(root: str, keep: str) -> None:
    entries = sorted(
        (os.path.join(root, d) for d in os.listdir(root)), key=os.path.getmtime, reverse=True
    )
    stale = [d for d in entries if d != keep][CACHE_KEEP - 1 :]
    for d in stale:
        shutil.rmtree(d, ignore_errors=True)


if __name__ == "__main__":
    generate(sys.argv[1], sys.argv[2], int(sys.argv[3]), sys.argv[4])
