"""Seeded input generators. The same seed gives byte-identical files.

Everything here is plain Python (``random.Random``) plus pyarrow for the
corpus parquet, so the engine under test never sees how its inputs were
made — only the files.

- :func:`write_cdc_backlog` — a Debezium-envelope NDJSON backlog in the
  ``PRODUCTS_ENVELOPE`` shape, split into segment files. The op mix follows
  the reference datagen loop (insert once, then ~11% updates, ~6% deletes)
  with Zipf-skewed update keys, plus the transport faults a real change log
  carries: ~4% at-least-once replays, a few late (out-of-order) LSNs and
  NULL-lsn noise lines.
- :func:`write_corpus` — a Zipf-vocabulary document corpus with planted
  exact replicas and one-token mutations, both drawn from originals only.
- :func:`dim_name` / :func:`dim_price_cents` — the closed-form initial
  image of the lakehouse dimension, computed identically by Spark (table
  build) and by the benchmark's in-memory model.
"""

from __future__ import annotations

import bisect
import itertools
import json
import os
import random
from dataclasses import dataclass, field

#: 2024-01-01T00:00:00Z in epoch millis (the repo's CDC base epoch)
BASE_TS_MS = 1_704_067_200_000

_DESCRIPTIONS = ("widget", "gadget", "gizmo", "doohickey", "sprocket", "flange")


def zipf_cum_weights(n: int, s: float) -> list[float]:
    """Cumulative weights of ranks 1..n under Zipf(s)."""
    return list(itertools.accumulate(1.0 / r**s for r in range(1, n + 1)))


def zipf_rank(rng: random.Random, cum: list[float]) -> int:
    """0-based rank drawn from cumulative Zipf weights."""
    return bisect.bisect_left(cum, rng.random() * cum[-1])


# ---------------------------------------------------------------------------
# CDC backlog
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class CdcSpec:
    keys: int = 20_000
    segments: int = 40
    update_p: float = 0.11
    delete_p: float = 0.06
    replay_p: float = 0.04
    late_p: float = 0.002
    null_lsn_p: float = 0.005
    zipf_s: float = 1.1


@dataclass
class Backlog:
    """What the generator wrote, and the ground truth the checks need."""

    paths: list[str]
    n_lines: int
    n_bytes: int
    #: distinct non-null (id, lsn) pairs of the log
    pairs: set[tuple[int, int]]
    #: ids carried by NULL-lsn noise lines
    null_lsn_ids: set[int] = field(default_factory=set)


def _image(key: int, version: int, rng: random.Random) -> dict:
    return {
        "id": key,
        "name": f"product {key} v{version}",
        "description": _DESCRIPTIONS[rng.randrange(len(_DESCRIPTIONS))],
        "price": rng.randrange(100, 100_000) / 100,
    }


def _envelope(op: str, before, after, lsn, ts_ms: int) -> str:
    source = {
        "version": "2.2.0.Alpha2",
        "connector": "postgresql",
        "name": "debezium",
        "ts_ms": ts_ms,
        "snapshot": "false",
        "db": "postgres",
        "sequence": None,
        "schema": "commerce",
        "table": "products",
        "txId": None if lsn is None else lsn // 8,
        "lsn": lsn,
        "xmin": None,
    }
    value = {
        "before": before,
        "after": after,
        "source": source,
        "op": op,
        "ts_ms": ts_ms + 5,
        "transaction": None,
    }
    return json.dumps({"value": value}, separators=(",", ":"))


def cdc_lines(seed: int, spec: CdcSpec) -> tuple[list[str], Backlog]:
    """The backlog's NDJSON lines in delivery order, and its ground truth
    (``paths``/``n_bytes`` are filled in by :func:`write_cdc_backlog`)."""
    rng = random.Random(seed)
    cum = zipf_cum_weights(spec.keys, spec.zipf_s)
    hot = list(range(1, spec.keys + 1))
    rng.shuffle(hot)  # rank -> key: which keys are hot is seeded too

    live: list[int] = []  # live keys, swap-remove on delete
    pos: dict[int, int] = {}
    image: dict[int, dict] = {}
    n_versions: dict[int, int] = {}
    next_key = 1
    lsn = 10_000_000
    events: list[tuple[int | None, int, str]] = []  # (lsn, id, line)
    step = 0
    while next_key <= spec.keys:
        step += 1
        ts = BASE_TS_MS + step * 10
        lsn += rng.randint(1, 8)
        u = rng.random()
        if live and u < spec.update_p:
            key = None
            for _ in range(8):
                cand = hot[zipf_rank(rng, cum)]
                if cand in pos:
                    key = cand
                    break
            if key is None:
                key = live[rng.randrange(len(live))]
            n_versions[key] += 1
            after = _image(key, n_versions[key], rng)
            line = _envelope("u", image[key], after, lsn, ts)
            image[key] = after
        elif live and u < spec.update_p + spec.delete_p:
            key = live[rng.randrange(len(live))]
            line = _envelope("d", image[key], None, lsn, ts)
            i = pos.pop(key)
            last = live.pop()
            if last != key:
                live[i] = last
                pos[last] = i
            del image[key]
        else:
            key = next_key
            next_key += 1
            n_versions[key] = 1
            image[key] = _image(key, 1, rng)
            line = _envelope("c", None, image[key], lsn, ts)
            pos[key] = len(live)
            live.append(key)
        events.append((lsn, key, line))

    pairs = {(k, l) for l, k, _ in events}
    # delivery order: generation order with late events pushed back and
    # replays re-delivered later; positions are fractional slots so the
    # moves never reorder the untouched events among themselves
    n = len(events)
    seg_len = max(1, n // spec.segments)
    slots: list[tuple[float, str]] = []
    for i, (_, _, line) in enumerate(events):
        at = float(i)
        if rng.random() < spec.late_p:
            at += rng.uniform(1, 2 * seg_len)
        slots.append((at, line))
        if rng.random() < spec.replay_p:
            slots.append((i + rng.uniform(1, 2 * seg_len), line))
    null_ids: set[int] = set()
    for i in range(int(n * spec.null_lsn_p)):
        key = rng.randint(1, spec.keys)
        null_ids.add(key)
        line = _envelope("u", None, _image(key, 0, rng), None, BASE_TS_MS + i)
        slots.append((rng.uniform(0, n), line))
    slots.sort(key=lambda s: s[0])
    lines = [line for _, line in slots]
    return lines, Backlog([], len(lines), 0, pairs, null_ids)


def write_cdc_backlog(seed: int, spec: CdcSpec, out_dir: str) -> Backlog:
    """Write the backlog as ``spec.segments`` NDJSON segment files. File
    mtimes are pinned in segment order, because Spark's file source admits
    files oldest-first."""
    lines, truth = cdc_lines(seed, spec)
    os.makedirs(out_dir, exist_ok=True)
    per = -(-len(lines) // spec.segments)
    mtime0 = BASE_TS_MS // 1000
    for s in range(spec.segments):
        chunk = lines[s * per : (s + 1) * per]
        if not chunk:
            break
        path = os.path.join(out_dir, f"seg-{s:05d}.json")
        with open(path, "w") as f:
            f.write("\n".join(chunk) + "\n")
        os.utime(path, (mtime0 + s, mtime0 + s))
        truth.paths.append(path)
        truth.n_bytes += os.path.getsize(path)
    return truth


# ---------------------------------------------------------------------------
# lakehouse dimension (closed form, shared by the Spark build and the model)
# ---------------------------------------------------------------------------


def dim_name(key: int, seed: int) -> str:
    return f"p{key}-{(key * 7919 + seed * 104729) % 100003}"


def dim_price_cents(key: int, seed: int) -> int:
    return (key * 2654435761 + seed * 40503) % 1_000_000


# ---------------------------------------------------------------------------
# corpus
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class CorpusSpec:
    docs: int = 8_000
    vocab: int = 50_000
    min_tokens: int = 20
    max_tokens: int = 120
    replica_p: float = 0.05
    mutation_p: float = 0.05
    zipf_s: float = 1.05


def _word(i: int) -> str:
    letters = "abcdefghijklmnopqrstuvwxyz"
    out = ""
    i += 26  # every word has at least two letters
    while i:
        i, r = divmod(i, 26)
        out = letters[r] + out
    return out


def corpus_docs(
    seed: int, spec: CorpusSpec
) -> tuple[list[tuple[int, str]], list[tuple[int, int]]]:
    """(doc_id, text) rows and the planted (original, duplicate) doc-id
    pairs. Duplicates copy ORIGINALS only, so planted groups stay pairs and
    the pair count does not grow with corpus size."""
    rng = random.Random(seed)
    vocab = [_word(i) for i in range(spec.vocab)]
    cum = zipf_cum_weights(spec.vocab, spec.zipf_s)
    n_rep = int(spec.docs * spec.replica_p)
    n_mut = int(spec.docs * spec.mutation_p)
    n_orig = spec.docs - n_rep - n_mut
    ids = list(range(spec.docs))
    rng.shuffle(ids)  # planted docs are spread over the doc-id space
    texts: dict[int, str] = {}
    originals = ids[:n_orig]
    for d in originals:
        n_tok = rng.randint(spec.min_tokens, spec.max_tokens)
        texts[d] = " ".join(rng.choices(vocab, cum_weights=cum, k=n_tok))
    planted: list[tuple[int, int]] = []
    for d in ids[n_orig : n_orig + n_rep]:
        src = originals[rng.randrange(n_orig)]
        texts[d] = texts[src]
        planted.append((src, d))
    for d in ids[n_orig + n_rep :]:
        src = originals[rng.randrange(n_orig)]
        toks = texts[src].split(" ")
        i = rng.randrange(len(toks))
        new = toks[i]
        while new == toks[i]:
            new = vocab[rng.randrange(spec.vocab)]
        toks[i] = new
        texts[d] = " ".join(toks)
        planted.append((src, d))
    return sorted(texts.items()), planted


def write_corpus(seed: int, spec: CorpusSpec, out_dir: str) -> list[tuple[int, int]]:
    """Write ``documents.parquet`` (the fixture schema the dedup queries
    load) under ``out_dir``; return the planted pairs."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows, planted = corpus_docs(seed, spec)
    os.makedirs(out_dir, exist_ok=True)
    table = pa.table(
        {
            "doc_id": pa.array([d for d, _ in rows], pa.int64()),
            "text": pa.array([t for _, t in rows], pa.string()),
            "lang": pa.array(["en"] * len(rows), pa.string()),
            "source": pa.array(["synthetic"] * len(rows), pa.string()),
            "n_chars": pa.array([len(t) for _, t in rows], pa.int64()),
        }
    )
    pq.write_table(table, os.path.join(out_dir, "documents.parquet"))
    return planted
