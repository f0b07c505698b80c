"""Seeded input generators with planted ground truth.

Everything is derived from ``random.Random(seed)`` and written as JSON
lines, so the same seed gives byte-identical files and a different seed
gives files of the same row and document counts. Each generator returns
a dict that records what was planted; the workloads check the committed
outputs against it.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random

# Function words the package's language-ID recognises as English; every
# generated document carries some, so only planted docs fail the gates.
EN_MARKERS = ("the", "and", "of", "to", "is")

EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
# An event type the dimension does not know: its left join leaves NULLs.
UNKNOWN_EVENT_TYPE = "refund"
EPOCH_DAY = 19723          # 2024-01-01 as days since 1970-01-01


def _ts(day: int, second: int) -> str:
    t = dt.datetime(1970, 1, 1) + dt.timedelta(days=EPOCH_DAY + day,
                                                seconds=second)
    return t.strftime("%Y-%m-%d %H:%M:%S")


def _write_lines(path: str, lines: list[str]) -> int:
    data = ("\n".join(lines) + "\n").encode()
    with open(path, "wb") as f:
        f.write(data)
    return len(data)


# --------------------------------------------------------------- etl_landing

def etl_batches(root: str, seed: int, n_batches: int, rows: int,
                low_quality_batch: int) -> dict:
    """Landing batches of ``events`` rows, one JSON-lines file each, plus
    the event-type dimension and its versioned (as-of) form.

    Per batch the truth records the ids of rows that must be quarantined
    (NULL required field or failing the ``value >= 0`` check), of the
    malformed lines, and of the rows that must reach the processed tier.
    Batch ``low_quality_batch`` has most optional fields NULL, so its
    quality score falls below the gate and nothing of it is processed."""
    rng = random.Random(seed)
    os.makedirs(root, exist_ok=True)
    batches = []
    for b in range(n_batches):
        lines, bad_ids, good_ids, corrupt_ids = [], [], [], []
        low = b == low_quality_batch
        for i in range(rows):
            eid = b * 1_000_000 + i
            r = rng.random()
            if r < 0.01:
                lines.append('{"event_id": %d, "ts": "broken' % eid)
                corrupt_ids.append(eid)
                continue
            row = {"event_id": eid,
                   # batch b covers day b, its hours spread unevenly
                   "ts": _ts(b, int(rng.triangular(0, 86399, 50000))),
                   "user_id": rng.randrange(400),
                   "event_type": (UNKNOWN_EVENT_TYPE if rng.random() < 0.01
                                  else rng.choice(EVENT_TYPES)),
                   "value": round(rng.expovariate(1 / 40.0), 2),
                   "props": json.dumps({"k": rng.randrange(100)})}
            if low and rng.random() < 0.9:
                row["event_type"] = None
                row["props"] = None
            if r < 0.03:
                row[rng.choice(("ts", "user_id"))] = None
                bad_ids.append(eid)
            elif r < 0.05:
                row["value"] = -row["value"] - 1.0
                bad_ids.append(eid)
            else:
                good_ids.append(eid)
            lines.append(json.dumps(row))
        path = os.path.join(root, f"batch-{b:03d}.json")
        nbytes = _write_lines(path, lines)
        batches.append({"index": b, "path": path, "bytes": nbytes,
                        "lines": len(lines),
                        "bad_ids": bad_ids, "good_ids": good_ids,
                        "corrupt_ids": corrupt_ids, "low_quality": low})
    dim = [{"event_type": t, "category": f"cat_{i % 3}",
            "weight": round(0.5 + i / 4, 2)}
           for i, t in enumerate(EVENT_TYPES)]
    # versioned dimension for the as-of join: each type changes version
    # at a seeded second of each day
    versions = []
    for t in EVENT_TYPES:
        cut = 0
        for v in range(n_batches * 2):
            nxt = cut + rng.randrange(20_000, 60_000)
            versions.append({"event_type": t, "version": v,
                             "valid_from": EPOCH_DAY * 86400 + cut,
                             "valid_to": EPOCH_DAY * 86400 + nxt})
            cut = nxt
    dim_path = os.path.join(root, "dim_event_type.json")
    ver_path = os.path.join(root, "dim_event_type_versions.json")
    _write_lines(dim_path, [json.dumps(d) for d in dim])
    _write_lines(ver_path, [json.dumps(v) for v in versions])
    return {"batches": batches, "dim_path": dim_path,
            "versions_path": ver_path}


# ------------------------------------------------------------ corpus text

class _Words:
    """Seeded synthetic vocabulary: random lowercase words that cannot
    collide with the English markers."""

    def __init__(self, rng: random.Random, size: int):
        letters = "bcdfghjklmnpqrstvwxz"
        vowels = "aeiouy"
        words = set()
        while len(words) < size:
            n = rng.randrange(2, 5)
            w = "".join(rng.choice(letters) + rng.choice(vowels)
                        for _ in range(n))
            words.add(w)
        self.words = sorted(words)
        self.rng = rng

    def tokens(self, n: int) -> list[str]:
        rng = self.rng
        out = []
        for _ in range(n):
            out.append(rng.choice(EN_MARKERS) if rng.random() < 0.15
                       else rng.choice(self.words))
        return out


def _mutate(words: _Words, toks: list[str], n_sub: int) -> list[str]:
    out = list(toks)
    for pos in words.rng.sample(range(len(out)), n_sub):
        out[pos] = words.rng.choice(words.words)
    return out


def _vec(rng: random.Random, dim: int) -> list[float]:
    v = [rng.gauss(0, 1) for _ in range(dim)]
    n = sum(x * x for x in v) ** 0.5
    return [round(x / n, 6) for x in v]


def _twin(rng: random.Random, v: list[float]) -> list[float]:
    w = [x + rng.gauss(0, 0.01) for x in v]
    n = sum(x * x for x in w) ** 0.5
    return [round(x / n, 6) for x in w]


def corpus_base(root: str, seed: int, n_docs: int) -> dict:
    """The day-0 landing that bootstraps the corpus: plain unique docs.
    Returns their token lists too, so later days can duplicate them."""
    rng = random.Random(seed)
    words = _Words(rng, 3000)
    os.makedirs(root, exist_ok=True)
    toks = [words.tokens(rng.randrange(40, 90)) for _ in range(n_docs)]
    docs = [{"doc_id": i, "text": " ".join(t), "source": f"src{i % 4}"}
            for i, t in enumerate(toks)]
    path = os.path.join(root, "base.json")
    nbytes = _write_lines(path, [json.dumps(d) for d in docs])
    return {"path": path, "bytes": nbytes, "tokens": toks}


def corpus_day(root: str, seed: int, day: int, base_tokens: list,
               n_unique: int, n_families: int, n_cross: int,
               dim: int = 32, passage_k: int = 12) -> dict:
    """One day's crawl landing: documents, their embeddings and the
    day's eval set. Ids start at ``day * 100_000``; every family's
    source has the lowest id of its family.

    Planted:
    - ``unique``: plain docs in no family, without boilerplate or eval
      text; losing one is a false drop;
    - within-crawl families of duplicates: exact copies (case or
      whitespace changed), near-dup variants (1-4 token substitutions)
      and semantic twins (unrelated text, near-identical embedding). A
      family of f docs plants f-1 duplicates;
    - ``cross``: exact copies and 1-token variants of base corpus docs,
      which only the probe against the persisted index can catch;
    - ``boilerplate``: docs sharing a passage of ``passage_k``+ tokens
      (kept; the passage is cut from all but the first);
    - ``contaminated``: docs that embed an 8-token span of one eval doc.
    """
    rng = random.Random(seed * 1000 + day)
    words = _Words(rng, 3000)
    os.makedirs(root, exist_ok=True)
    docs: list[dict] = []
    emb: list[dict] = []
    truth = {"unique": [], "families": [], "cross": [], "contaminated": [],
             "boilerplate": []}

    def add(text: str, vec: list[float]) -> int:
        did = day * 100_000 + len(docs)
        docs.append({"doc_id": did, "text": text,
                     "source": f"src{did % 4}"})
        emb.append({"doc_id": did, "embedding": vec})
        return did

    for _ in range(n_unique):
        truth["unique"].append(add(" ".join(words.tokens(
            rng.randrange(40, 90))), _vec(rng, dim)))
    for f in range(n_families):
        src_toks = words.tokens(rng.randrange(50, 90))
        src_vec = _vec(rng, dim)
        fam = [add(" ".join(src_toks), src_vec)]
        kind = f % 3
        # family sizes cycle, so every seed plants the same counts
        for _ in range(1 + (f // 3) % 3):
            if kind == 0:      # exact copy, normalisation-equal
                text = (" ".join(src_toks).upper() if rng.random() < 0.5
                        else "  ".join(src_toks))
                fam.append(add(text, _vec(rng, dim)))
            elif kind == 1:    # near-dup variant
                fam.append(add(" ".join(_mutate(
                    words, src_toks, rng.randrange(1, 5))), _vec(rng, dim)))
            else:              # semantic twin: other text, same meaning
                fam.append(add(" ".join(words.tokens(rng.randrange(50, 90))),
                               _twin(rng, src_vec)))
        truth["families"].append(fam)
    for i in range(n_cross):
        src = rng.choice(base_tokens)
        text = (" ".join(src).upper() if i % 2 == 0
                else " ".join(_mutate(words, src, 1)))
        truth["cross"].append(add(text, _vec(rng, dim)))
    boiler = words.tokens(passage_k + 8)
    for _ in range(max(4, n_unique // 20)):
        truth["boilerplate"].append(add(" ".join(
            words.tokens(rng.randrange(40, 80)) + boiler), _vec(rng, dim)))
    evals = []
    for i in range(max(4, n_unique // 25)):
        ev = words.tokens(40)
        evals.append({"doc_id": 10_000_000 + i, "text": " ".join(ev)})
        body = words.tokens(rng.randrange(40, 80))
        cut = rng.randrange(len(body))
        truth["contaminated"].append(add(" ".join(
            body[:cut] + ev[10:18] + body[cut:]), _vec(rng, dim)))

    paths = {k: os.path.join(root, f"day-{day:03d}-{k}.json")
             for k in ("docs", "emb", "eval")}
    nbytes = _write_lines(paths["docs"], [json.dumps(d) for d in docs])
    _write_lines(paths["emb"], [json.dumps(e) for e in emb])
    _write_lines(paths["eval"], [json.dumps(e) for e in evals])
    truth.update(day=day, paths=paths, n_docs=len(docs), bytes=nbytes,
                 input_bytes=sum(os.path.getsize(p) for p in paths.values()))
    return truth
