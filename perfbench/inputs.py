"""Seeded benchmark inputs and their oracles, built untimed and cached.

Every input is a pure function of ``--seed``:

- the transcript corpus: conversations from the deterministic generator
  (``datagen.transcripts.gen_turn`` / ``conv_length``), starting at a
  conversation-id offset the seed picks, until the corpus holds a fixed
  number of payload bytes (extraction time follows payload bytes more
  closely than turn count, so a byte target keeps ``job_s`` comparable
  across seeds), with a fixed count of the generator's two rare heavy
  cases (``conv_ids``);
- the extraction oracle: per conversation, ``kernels.oracle.extract_turn``
  on every turn and then ``finalize_conv``, in ``turn_idx`` order, in plain
  Python outside Spark (a process pool splits the conversations);
- the streaming backlog: the corpus' html/plain/empty/office turns, in
  ``ts`` order, one file per micro-batch.

The query pack's tables are fixed (``perfbench/data``), whatever the seed.

Everything lands in the cache directory keyed by seed, size and a hash of
the package source, so a rerun with the same seed and code only reads it.
"""

from __future__ import annotations

import hashlib
import json
import multiprocessing
import os
import shutil
from dataclasses import dataclass
from datetime import datetime, timedelta, timezone
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]

# a seed picks a block of conversation ids; 2000 blocks of 1000 keeps every
# generated ts (conv_i hours after 2026-01-01) inside pandas' ns range, with
# room for the heavy-case search to run a few blocks past the last one
CONV_STRIDE = 1000
SEED_BLOCKS = 2000

# the routes a streaming backlog keeps: no JSON payloads, so the pdf,
# pptx, docx and xlsx kernels do no work there
STREAM_ROUTES = ("html", "plain", "empty", "office")

_EPOCH = datetime(1970, 1, 1, tzinfo=timezone.utc)


def source_hash() -> str:
    """Hash of the package and benchmark sources: a cached oracle is reused
    only for the code that built it."""
    h = hashlib.sha256()
    for base in ("mineru_spark", "perfbench"):
        for p in sorted((ROOT / base).rglob("*.py")):
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()[:12]


# The generator's two rare heavy cases, each a straggler task: a
# conversation holding a turn of GIANT_TURN_BYTES or more (a 15-page pdf,
# 0.4% of pdfs) and a long conversation (40-80 turns, 1% of them).  Left to
# chance, the 16 MiB corpora of ten seeds held 0-1 giant turns and 0-3 long
# conversations, and the seeds with a giant turn ran 15% slower (median
# job_s); so a corpus holds a fixed count of each.
GIANT_TURN_BYTES = 500_000
LONG_CONV_TURNS = 40


def conv_ids(seed: int, n_bytes: int, heavy: dict[str, int]) -> list[int]:
    """Conversation ids from the seed's offset on: the first ``heavy[kind]``
    conversations of each heavy kind (``giant``, ``long``), and the
    ordinary conversations in id order until all payloads reach
    ``n_bytes``."""
    from mineru_spark.datagen.transcripts import conv_length, gen_turn

    lo = (seed % SEED_BLOCKS) * CONV_STRIDE
    seen: list[tuple[str, int]] = []  # (kind, payload bytes) of lo + i

    def scan(i: int) -> tuple[str, int]:
        while len(seen) <= i:
            ci = lo + len(seen)
            turns = [len(gen_turn(ci, ti)["text"])
                     for ti in range(conv_length(ci))]
            kind = "giant" if max(turns) >= GIANT_TURN_BYTES else \
                "long" if len(turns) >= LONG_CONV_TURNS else "short"
            seen.append((kind, sum(turns)))
        return seen[i]

    found, need, i = [], dict(heavy), 0
    while any(need.values()):
        kind, size = scan(i)
        if need.get(kind):
            need[kind] -= 1
            found.append((i, size))
        i += 1
    ids, total, i = [lo + j for j, _ in found], sum(b for _, b in found), 0
    while total < n_bytes:
        kind, size = scan(i)
        if kind == "short":
            ids.append(lo + i)
            total += size
        i += 1
    return sorted(ids)


def ts_us(ts) -> int:
    return (ts - _EPOCH) // timedelta(microseconds=1)


def oracle_row(turn: dict, out: dict) -> dict:
    """One expected sink row: every output field in canonical form."""
    from .verify import canonical_spans

    m = out["metrics"]
    return {"conv_id": turn["conv_id"], "turn_idx": int(turn["turn_idx"]),
            "ts_us": ts_us(turn["ts"]), "route": out["route"],
            "md": out["md"], "md_nlp": out["md_nlp"],
            "content_list": out["content_list"],
            "content_list_v2": out["content_list_v2"],
            "middle": out["middle"],
            "spans": canonical_spans(out["spans"]),
            **{k: int(m[k]) for k in METRIC_COLS}}


METRIC_COLS = ["blocks_classified", "blocks_discarded", "boilerplate_dropped",
               "tables_parsed", "chars_deduped", "ocr_fallback",
               "para_merged", "tables_merged", "spans_need_ocr"]


def _build_convs(ids: list[int]) -> tuple[list, list]:
    """Generate conversations ``ids`` and their oracle rows (pool task)."""
    from mineru_spark.datagen.transcripts import conv_length, gen_turn
    from mineru_spark.kernels.oracle import extract_turn, finalize_conv

    turns, expected = [], []
    for ci in ids:
        conv = [gen_turn(ci, ti) for ti in range(conv_length(ci))]
        outs = []
        for t in conv:
            r = extract_turn(t["text"], t["tool"])
            r["turn_idx"] = t["turn_idx"]
            outs.append(r)
        finalize_conv(outs)
        turns.extend(conv)
        expected.extend(oracle_row(t, o) for t, o in zip(conv, outs))
    return turns, expected


@dataclass
class Corpus:
    """A materialized transcript corpus plus its oracle."""
    dir: Path
    parquet: Path          # input dataset, one file per scan split
    stream_in: Path        # streaming backlog, one file per micro-batch
    stream_warm: Path      # the backlog's first file alone (warm-up drain)
    turns: int
    stream_turns: int
    expected: dict         # (conv_id, turn_idx) -> oracle row
    stream_keys: frozenset
    meta: dict


def _chunks(ids: list[int], n: int) -> list[list[int]]:
    step = max(1, (len(ids) + n - 1) // n)
    return [ids[a:a + step] for a in range(0, len(ids), step)]


def build_corpus(cache: Path, seed: int, n_bytes: int, n_files: int,
                 stream_files: int, procs: int,
                 heavy: dict[str, int]) -> Corpus:
    """Materialize (or reuse) the seed's corpus, backlog and oracle."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = cache / (f"corpus-s{seed}-b{n_bytes}-f{n_files}-{stream_files}-"
                 f"g{heavy['giant']}l{heavy['long']}-{source_hash()}")
    done = d / "DONE.json"
    if not done.exists():
        shutil.rmtree(d, ignore_errors=True)
        ids = conv_ids(seed, n_bytes, heavy)
        # fork, not spawn: a spawn pool starts multiprocessing's resource
        # tracker, a process that outlives the pool and exits only after
        # this one has.  No JVM runs yet when the corpus is built.
        ctx = multiprocessing.get_context("fork")
        with ctx.Pool(procs) as pool:
            parts = pool.map(_build_convs, _chunks(ids, 4 * procs))
        turns = [t for p, _ in parts for t in p]
        expected = [row for _, rows in parts for row in rows]
        pdf = pd.DataFrame(turns, columns=["conv_id", "turn_idx", "role",
                                           "text", "tool", "ts"])
        table = pa.Table.from_pandas(pdf, schema=_arrow_schema(),
                                     preserve_index=False)
        _write_split(table, d / "corpus", n_files)
        _write_backlog(table, d / "stream_in", d / "stream_warm",
                       stream_files)
        pq.write_table(pa.Table.from_pylist(expected), d / "oracle.parquet")
        done.write_text(json.dumps({"seed": seed, "convs": len(ids),
                                    "turns": len(turns)}))
    meta = json.loads(done.read_text())
    rows = pq.read_table(d / "oracle.parquet").to_pylist()
    stream_keys = frozenset(
        (r["conv_id"], r["turn_idx"]) for r in
        pq.read_table(d / "stream_in", columns=["conv_id", "turn_idx"])
        .to_pylist())
    return Corpus(dir=d, parquet=d / "corpus", stream_in=d / "stream_in",
                  stream_warm=d / "stream_warm",
                  turns=meta["turns"], stream_turns=len(stream_keys),
                  expected={(r["conv_id"], r["turn_idx"]): r for r in rows},
                  stream_keys=stream_keys, meta=meta)


def _arrow_schema():
    import pyarrow as pa
    return pa.schema([("conv_id", pa.string()), ("turn_idx", pa.int32()),
                      ("role", pa.string()), ("text", pa.string()),
                      ("tool", pa.string()),
                      # tz-aware: Spark reads it as TimestampType, the
                      # TRANSCRIPT_SCHEMA type, not TIMESTAMP_NTZ
                      ("ts", pa.timestamp("us", tz="UTC"))])


def _write_split(table, out: Path, n_files: int) -> None:
    """Contiguous conversation ranges, one single-row-group file each: the
    layout ``synthesize_transcripts`` writes (each file is one scan task)."""
    import pyarrow.parquet as pq
    out.mkdir(parents=True)
    n = table.num_rows
    for i in range(n_files):
        a, b = i * n // n_files, (i + 1) * n // n_files
        pq.write_table(table.slice(a, b - a), out / f"part-{i:05d}.parquet")


def _write_backlog(table, out: Path, warm: Path, n_files: int) -> None:
    """Streaming backlog: the kept routes, ``ts`` order, written one file
    at a time with strictly increasing modification times.  The file
    source replays files in modification-time order; files written in
    parallel get a nondeterministic order, and the 1-hour watermark then
    silently drops every turn that arrives after a later conversation."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    from mineru_spark.kernels.classify import classify_payload

    keep = [classify_payload(t) in STREAM_ROUTES
            for t in table.column("text").to_pylist()]
    kept = table.filter(keep)
    kept = kept.take(pc.sort_indices(kept, sort_keys=[("ts", "ascending")]))
    out.mkdir(parents=True)
    n = kept.num_rows
    t0 = int(datetime(2026, 1, 1, tzinfo=timezone.utc).timestamp())
    for i in range(n_files):
        a, b = i * n // n_files, (i + 1) * n // n_files
        p = out / f"epoch-{i:05d}.parquet"
        pq.write_table(kept.slice(a, b - a), p)
        os.utime(p, (t0 + i, t0 + i))
    # the warm-up drain reads the first file cut back to whole
    # conversations, so the full-conversation oracle holds for it too
    first = kept.slice(0, n // n_files)
    later = set(kept.slice(n // n_files).column("conv_id").to_pylist())
    warm.mkdir(parents=True)
    pq.write_table(first.filter(pc.invert(pc.is_in(
        first.column("conv_id"), value_set=pa.array(sorted(later))))),
        warm / "epoch-00000.parquet")
