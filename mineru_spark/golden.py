"""Golden-parquet oracles for the non-SQL-expressible extraction queries.

The extraction kernels cannot be re-expressed in ANSI SQL, so their driver
oracle is a MATERIALIZED one: the single-process oracle kernel (the same
`extract_turn` contract the pytest golden-equality suite anchors byte-for-
byte, tests/test_golden_equality.py) is run over the deterministic corpus
and written to a parquet file; `oracle_sql()` then reads it with DuckDB's
`read_parquet`.  What the driver gate verifies, therefore, is exactly the
north rule's risk at scale: that the DISTRIBUTED path — Arrow batching,
conv-grouped finalize, ordering — reproduces the
single-process result for every route (pdf_txt / pdf_ocr / html / pptx /
docx / office / plain / empty / error).

For the fingerprint PAIR query the golden file stores only the per-doc
fingerprint arrays; DuckDB recomputes the df-cap + self-join + overlap
count relationally — an independent check of the join logic itself.
For ANN top-k the golden is an independent NUMPY reimplementation of the
probe/cosine math (vs the Spark SQL expression tree).

Files live under $SPARK_GRAFT_GOLDEN_DIR (default /tmp/mineru_spark_golden)
keyed by a hash of every mineru_spark source file — any kernel or datagen
change invalidates and regenerates them (same discipline as the bench
corpus).  Writes are atomic (tmp + rename), safe under concurrent callers.
"""

from __future__ import annotations

import glob
import hashlib
import os

GOLDEN_ROOT = os.environ.get("SPARK_GRAFT_GOLDEN_DIR",
                             "/tmp/mineru_spark_golden")

# the driver's correctness gate runs at sf=0.01; oracle_sql() strings are
# static, so golden paths are pinned to this scale factor
ORACLE_SF = 0.01

_N_PROCS = min(16, os.cpu_count() or 4)


def corpus_key() -> str:
    """Hash of every mineru_spark source file: any change to kernels,
    datagen, or this module regenerates the goldens."""
    root = os.path.dirname(__file__)
    h = hashlib.sha256()
    for f in sorted(glob.glob(os.path.join(root, "**", "*.py"),
                              recursive=True)):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def sf_of_dir(sf_dir: str) -> float:
    try:
        return float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
    except ValueError:
        return 0.001


def golden_path(name: str, sf: float = ORACLE_SF) -> str:
    return os.path.join(GOLDEN_ROOT, corpus_key(), f"sf{sf:g}",
                        f"{name}.parquet")


def _write_atomic(table, path: str) -> None:
    import pyarrow.parquet as pq

    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = f"{path}.tmp.{os.getpid()}"
    pq.write_table(table, tmp)
    os.replace(tmp, path)


# ---------------------------------------------------------------------------
# transcripts extraction golden (flagship)
# ---------------------------------------------------------------------------

_EXTRACT_COLS = ("conv_id", "turn_idx", "route", "md", "content_list",
                 "content_list_v2", "blocks_classified",
                 "boilerplate_dropped", "ocr_fallback", "para_merged",
                 "tables_merged", "spans_need_ocr")


def _extract_conv_range(bounds: tuple[int, int]) -> list[tuple]:
    """Worker: full oracle pipeline (extract_turn + finalize_conv) for convs
    [lo, hi) — one complete conversation per finalize call, exactly like the
    Spark path's conv-grouped finalize."""
    from .datagen.transcripts import conv_length, gen_turn
    from .kernels.oracle import extract_turn, finalize_conv

    lo, hi = bounds
    rows: list[tuple] = []
    for ci in range(lo, hi):
        conv_id = f"conv-{ci:08d}"
        outs = []
        for ti in range(conv_length(ci)):
            t = gen_turn(ci, ti)
            r = extract_turn(t["text"], t["tool"])
            r["turn_idx"] = ti
            outs.append(r)
        finalize_conv(outs)
        for r in outs:
            m = r["metrics"]
            rows.append((conv_id, r["turn_idx"], r["route"], r["md"],
                         r["md_nlp"], r["content_list"],
                         r["content_list_v2"], r["middle"],
                         m["blocks_classified"], m["boilerplate_dropped"],
                         m["ocr_fallback"], m["para_merged"],
                         m["tables_merged"], m["spans_need_ocr"]))
    return rows


def ensure_golden_extract(sf: float = ORACLE_SF) -> str:
    path = golden_path("golden_extract", sf)
    if os.path.exists(path):
        return path
    import multiprocessing as mp

    import pyarrow as pa

    from .datagen.transcripts import n_convs_for_sf

    n = n_convs_for_sf(sf)
    step = max(1, (n + _N_PROCS * 4 - 1) // (_N_PROCS * 4))
    bounds = [(lo, min(lo + step, n)) for lo in range(0, n, step)]
    ctx = mp.get_context("spawn")
    with ctx.Pool(_N_PROCS) as pool:
        chunks = pool.map(_extract_conv_range, bounds)
    rows = [r for ch in chunks for r in ch]
    cols = list(zip(*rows))
    table = pa.table({
        "conv_id": pa.array(cols[0], pa.string()),
        "turn_idx": pa.array(cols[1], pa.int32()),
        "route": pa.array(cols[2], pa.string()),
        "md": pa.array(cols[3], pa.string()),
        "md_nlp": pa.array(cols[4], pa.string()),
        "content_list": pa.array(cols[5], pa.string()),
        "content_list_v2": pa.array(cols[6], pa.string()),
        "middle": pa.array(cols[7], pa.string()),
        "blocks_classified": pa.array(cols[8], pa.int32()),
        "boilerplate_dropped": pa.array(cols[9], pa.int32()),
        "ocr_fallback": pa.array(cols[10], pa.int32()),
        "para_merged": pa.array(cols[11], pa.int32()),
        "tables_merged": pa.array(cols[12], pa.int32()),
        "spans_need_ocr": pa.array(cols[13], pa.int32()),
    })
    _write_atomic(table, path)
    return path


# ---------------------------------------------------------------------------
# docwrap golden (per-doc HTML roundtrip metrics)
# ---------------------------------------------------------------------------

def _docwrap_chunk(args: tuple[list[int], list[str]]) -> list[tuple]:
    from .kernels.html_extract import extract_html
    from .sources.docwrap import wrap_doc_html

    ids, texts = args
    out = []
    for did, text in zip(ids, texts):
        blocks, metrics = extract_html(wrap_doc_html(did, text))
        out.append((did, metrics["blocks_classified"],
                    metrics["boilerplate_dropped"]))
    return out


def ensure_golden_docwrap(sf_dir: str, sf: float = ORACLE_SF) -> str:
    path = golden_path("golden_docwrap", sf)
    if os.path.exists(path):
        return path
    import multiprocessing as mp

    import pyarrow as pa
    import pyarrow.parquet as pq

    docs = pq.read_table(f"{sf_dir}/documents.parquet",
                         columns=["doc_id", "text"])
    ids = docs["doc_id"].to_pylist()
    texts = docs["text"].to_pylist()
    step = max(1, (len(ids) + _N_PROCS - 1) // _N_PROCS)
    chunks = [(ids[i:i + step], texts[i:i + step])
              for i in range(0, len(ids), step)]
    ctx = mp.get_context("spawn")
    with ctx.Pool(min(_N_PROCS, len(chunks))) as pool:
        parts = pool.map(_docwrap_chunk, chunks)
    rows = [r for p in parts for r in p]
    cols = list(zip(*rows))
    table = pa.table({
        "doc_id": pa.array(cols[0], pa.int64()),
        "n_blocks": pa.array(cols[1], pa.int32()),
        "boilerplate_dropped": pa.array(cols[2], pa.int32()),
    })
    _write_atomic(table, path)
    return path


# ---------------------------------------------------------------------------
# winnowed fingerprint golden (per-doc arrays; DuckDB does the pair join)
# ---------------------------------------------------------------------------

def ensure_golden_fingerprints(sf_dir: str, sf: float = ORACLE_SF) -> str:
    path = golden_path("golden_fingerprints", sf)
    if os.path.exists(path):
        return path
    import pyarrow as pa
    import pyarrow.parquet as pq

    from .textops import winnow_fingerprints

    docs = pq.read_table(f"{sf_dir}/documents.parquet",
                         columns=["doc_id", "text"])
    ids = docs["doc_id"].to_pylist()
    fps = [winnow_fingerprints(t or "") for t in docs["text"].to_pylist()]
    table = pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "fp": pa.array(fps, pa.list_(pa.int64())),
        "n_fp": pa.array([len(f) for f in fps], pa.int32()),
    })
    _write_atomic(table, path)
    return path


# ---------------------------------------------------------------------------
# media feature golden (stub decode is deterministic per media_id)
# ---------------------------------------------------------------------------

def ensure_golden_media(n: int, sf: float = ORACLE_SF) -> str:
    path = golden_path("golden_media", sf)
    if os.path.exists(path):
        return path
    import pyarrow as pa

    from .multimodal import build_payload, decode_media

    rows = []
    for i in range(n):
        mime, payload, _w, _h, _d = build_payload(i)
        try:
            decode_media(payload, mime)
            ok = True
        except Exception:
            ok = False
        rows.append((i, mime, ok))
    cols = list(zip(*rows))
    table = pa.table({
        "media_id": pa.array(cols[0], pa.int64()),
        "mime": pa.array(cols[1], pa.string()),
        "decode_ok": pa.array(cols[2], pa.bool_()),
    })
    _write_atomic(table, path)
    return path


def ensure_golden_probe(n: int, sf: float = ORACLE_SF) -> str:
    """Single-process run of the container-header prober over the shared
    build_payload rows; the driver gate then verifies the DISTRIBUTED
    mapInPandas probe reproduces it row-for-row."""
    path = golden_path("golden_probe", sf)
    if os.path.exists(path):
        return path
    import pyarrow as pa

    from .multimodal import build_payload, probe_media

    rows = []
    for i in range(n):
        mime, payload, w, h, dur = build_payload(i)
        p = probe_media(payload)
        match = (p["mime"] == mime and p["width"] == w
                 and p["height"] == h and p["duration_ms"] == dur)
        rows.append((i, p["mime"], p["width"], p["height"],
                     p["duration_ms"], match))
    cols = list(zip(*rows))
    table = pa.table({
        "media_id": pa.array(cols[0], pa.int64()),
        "mime_sniffed": pa.array(cols[1], pa.string()),
        "width": pa.array(cols[2], pa.int32()),
        "height": pa.array(cols[3], pa.int32()),
        "duration_ms": pa.array(cols[4], pa.int32()),
        "meta_match": pa.array(cols[5], pa.bool_()),
    })
    _write_atomic(table, path)
    return path


# ---------------------------------------------------------------------------
# ANN golden: independent numpy reimplementation of the probe/cosine math
# ---------------------------------------------------------------------------

def ensure_golden_ann(sf_dir: str, k: int = 10, query_vec_id: int = 0,
                      radius: int = 2, sf: float = ORACLE_SF) -> str:
    path = golden_path("golden_ann", sf)
    if os.path.exists(path):
        return path
    from decimal import ROUND_HALF_UP, Decimal

    import numpy as np
    import pandas as pd
    import pyarrow as pa

    from .simsearch import ANN_PLANES, probe_set, query_signature
    from .simsearch import _PLANES as _ALL_PLANES

    _PLANES = _ALL_PLANES[:ANN_PLANES]  # the ANN path's bucket width

    pdf = pd.read_parquet(f"{sf_dir}/embeddings.parquet")
    mat = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    vec_ids = pdf["vec_id"].to_numpy()
    labels = pdf["label"].to_numpy()
    q = mat[np.flatnonzero(vec_ids == query_vec_id)[0]]
    qvec = [float(v) for v in q]
    sigs = ((mat @ _PLANES.T) > 0).astype(np.int64) @ (
        1 << np.arange(_PLANES.shape[0], dtype=np.int64))
    probes = set(probe_set(query_signature(qvec, ANN_PLANES), radius,
                           ANN_PLANES))
    cand = [i for i in range(len(mat))
            if int(sigs[i]) in probes and int(vec_ids[i]) != query_vec_id]
    # mirror the Spark expression's float64 LEFT-FOLD summation order
    # (numpy's pairwise dot rounds differently in the last ulp) and its
    # driver-side np.linalg.norm for the query norm, so the doubles going
    # into round() are bit-identical; Spark ROUND(double, 6) goes through
    # the shortest decimal repr then HALF_UP — Decimal(repr(v)) matches
    qn = float(np.linalg.norm(np.array(qvec)))
    cos_r = []
    for i in cand:
        dot = 0.0
        nrm = 0.0
        for a, b in zip(mat[i], q):
            dot = dot + float(a) * float(b)
            nrm = nrm + float(a) * float(a)
        v = dot / (np.sqrt(nrm) * qn)
        cos_r.append(float(Decimal(repr(float(v))).quantize(
            Decimal("0.000001"), rounding=ROUND_HALF_UP)))
    order = sorted(range(len(cand)),
                   key=lambda i: (-cos_r[i], int(vec_ids[cand[i]])))[:k]
    table = pa.table({
        "vec_id": pa.array([int(vec_ids[cand[i]]) for i in order],
                           pa.int64()),
        "label": pa.array([int(labels[cand[i]]) for i in order],
                          pa.int32()),
        "cos": pa.array([cos_r[i] for i in order], pa.float64()),
    })
    _write_atomic(table, path)
    return path


def ensure_golden_kmeans(sf_dir: str, sf: float = ORACLE_SF) -> str:
    """Independent Python re-implementation of simsearch.kmeans_assign:
    identical init (vec_id 1..K), identical left-fold squared-L2 order,
    identical 9-dp HALF_UP rounding before the argmin, identical EXACT
    decimal centroid sums (decimal addition is associative, so Spark's
    partition order cannot diverge) and identical mean quantization.
    Every double op is plain Python float (IEEE 754, same op order →
    same bits as the JVM expression)."""
    path = golden_path("golden_kmeans", sf)
    if os.path.exists(path):
        return path
    from decimal import ROUND_HALF_UP, Decimal

    import numpy as np
    import pandas as pd
    import pyarrow as pa

    from .simsearch import KMEANS_ITERS, KMEANS_K

    pdf = pd.read_parquet(f"{sf_dir}/embeddings.parquet")
    vec_ids = pdf["vec_id"].to_numpy()
    mat = [list(map(float, v)) for v in pdf["embedding"]]
    q9 = Decimal("1e-9")
    q15 = Decimal("1e-15")

    def dists(x, cents):
        out = []
        for c in cents:
            acc = 0.0
            for a, b in zip(x, c):
                acc = acc + (a - b) * (a - b)
            out.append(float(Decimal(repr(acc)).quantize(
                q9, rounding=ROUND_HALF_UP)))
        return out

    def assign(x, cents):
        d = dists(x, cents)
        m = min(d)
        return d.index(m), m

    cents = [mat[int(np.flatnonzero(vec_ids == i)[0])]
             for i in range(1, KMEANS_K + 1)]
    for _ in range(KMEANS_ITERS):
        sums = [[Decimal(0)] * len(mat[0]) for _ in range(KMEANS_K)]
        counts = [0] * KMEANS_K
        for x in mat:
            ci, _ = assign(x, cents)
            counts[ci] += 1
            for j, v in enumerate(x):
                sums[ci][j] += Decimal(repr(v)).quantize(
                    q15, rounding=ROUND_HALF_UP)
        new_cents = []
        for ci in range(KMEANS_K):
            if not counts[ci]:
                new_cents.append(cents[ci])
                continue
            n = Decimal(counts[ci])
            new_cents.append([
                float((s / n).quantize(q9, rounding=ROUND_HALF_UP))
                for s in sums[ci]])
        cents = new_cents
    rows = [(int(vid),) + assign(x, cents)
            for vid, x in zip(vec_ids, mat)]
    table = pa.table({
        "vec_id": pa.array([r[0] for r in rows], pa.int64()),
        "cent": pa.array([r[1] for r in rows], pa.int64()),
        "dist2": pa.array([r[2] for r in rows], pa.float64()),
    })
    _write_atomic(table, path)
    return path


def ensure_golden_bpe(sf_dir: str, sf: float = ORACLE_SF) -> str:
    """Independent plain-Python BPE trainer (Sennrich et al. 2016) over
    the same word-frequency table textops.bpe_train_merges builds:
    identical word split (' +' on trimmed text), identical </w> end
    symbol, identical argmax tie-break (count DESC, then lexicographic
    (left, right)), identical greedy left-to-right non-overlapping
    apply, identical <2-count stop.  Exact integer counting throughout,
    so the gate is bit-stable by construction."""
    path = golden_path("golden_bpe", sf)
    if os.path.exists(path):
        return path
    import re as _re
    from collections import Counter

    import pandas as pd
    import pyarrow as pa

    from .textops import BPE_MERGES, _EOW

    pdf = pd.read_parquet(f"{sf_dir}/documents.parquet",
                          columns=["text"])
    freq: Counter = Counter()
    for t in pdf["text"]:
        for w in _re.split(r" +", str(t).strip()):
            if w:
                freq[w] += 1
    vocab = {tuple(list(w) + [_EOW]): n for w, n in freq.items()}

    rows = []
    for rank in range(1, BPE_MERGES + 1):
        pairs: Counter = Counter()
        for syms, n in vocab.items():
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] += n
        if not pairs:
            break
        (left, right), n = sorted(pairs.items(),
                                  key=lambda kv: (-kv[1], kv[0]))[0]
        if n < 2:
            break
        merged = left + right
        rows.append((rank, left, right, merged, int(n)))
        out = {}
        for syms, cnt in vocab.items():
            acc: list = []
            for s in syms:
                if acc and acc[-1] == left and s == right:
                    acc[-1] = merged
                else:
                    acc.append(s)
            k = tuple(acc)
            out[k] = out.get(k, 0) + cnt
        vocab = out
    table = pa.table({
        "merge_rank": pa.array([r[0] for r in rows], pa.int64()),
        "left": pa.array([r[1] for r in rows], pa.string()),
        "right": pa.array([r[2] for r in rows], pa.string()),
        "merged": pa.array([r[3] for r in rows], pa.string()),
        "pair_count": pa.array([r[4] for r in rows], pa.int64()),
    })
    _write_atomic(table, path)
    return path
