"""Seeded input generators owned by the benchmark.

Everything here is pure Python driven by one ``random.Random(seed)`` per
generator, so the same seed always yields byte-identical files and the
engine under test only ever sees the generated files:

- :class:`CdcLog` writes Debezium change events as NDJSON in the
  ``schemas.PRODUCTS_ENVELOPE`` wire shape (the ``value`` wrapper the
  object-store sink adds). The op mix follows the reference datagen: per
  product id one INSERT, ~11% UPDATEs and ~6% DELETEs, with updates and
  deletes skewed toward recently inserted ids. On top of that it injects
  at-least-once replays (~4% of lines, exact copies landing in the same
  segment), late events (an UPDATE held back one or two segments, so it
  arrives after higher LSNs of other keys and sometimes of its own key) and
  NULL-LSN noise rows.
- :func:`documents` builds the ``documents`` corpus (fixture schema) with a
  planted share of near-duplicates.
"""

from __future__ import annotations

import os
import random

#: 2024-01-01T00:00:00Z in epoch millis
BASE_TS_MS = 1_704_067_200_000

_WORDS = (
    "alpha bolt cable drill epoxy fuse gasket hinge insulator jack knob "
    "lever magnet nozzle o-ring piston quartz relay spring tether valve "
    "washer xenon yoke zipper"
).split()


def _json(v) -> str:
    """JSON for an int, None or a product row image (whose strings need no
    escaping)."""
    if v is None:
        return "null"
    if isinstance(v, dict):
        return (f'{{"id":{v["id"]},"name":"{v["name"]}",'
                f'"description":"{v["description"]}","price":{v["price"]!r}}}')
    return str(v)


def _line(op, before, after, lsn, ts_ms, tx_id) -> str:
    """One NDJSON line in the PRODUCTS_ENVELOPE shape. Key order and
    separators are fixed so equal events serialize to equal bytes."""
    return (
        f'{{"value":{{"before":{_json(before)},"after":{_json(after)},'
        f'"source":{{"version":"2.2.0.Final","connector":"postgresql",'
        f'"name":"debezium","ts_ms":{ts_ms},'
        f'"snapshot":"{"true" if op == "r" else "false"}","db":"postgres",'
        f'"sequence":null,"schema":"commerce","table":"products",'
        f'"txId":{_json(tx_id)},"lsn":{_json(lsn)},"xmin":null}},'
        f'"op":"{op}","ts_ms":{ts_ms + 5},"transaction":null}}}}'
    )


class CdcLog:
    """Seeded Debezium change-event stream for the ``products`` table.

    ``snapshot(n)`` emits the initial 'r' rows; each ``segment(n)`` call
    emits exactly ``n`` lines of live traffic. LSNs are unique per source
    event (replays repeat a line verbatim), so every key's history is
    totally ordered by LSN, which is what the SCD2 checks rely on.
    """

    P_UPDATE = 0.094  # 0.11 / (1 + 0.11 + 0.06): reference per-id op mix
    P_DELETE = 0.051  # 0.06 / (1 + 0.11 + 0.06)
    P_REPLAY = 0.04
    P_NULL_LSN = 0.005
    P_LATE = 0.10  # share of UPDATEs that arrive one or two segments late
    RECENT_SKEW = 200.0  # mean distance from the newest live id for u/d

    def __init__(self, seed: int):
        self.rng = random.Random(f"cdc-{seed}")
        self.next_id = 1
        self.lsn = 10_000
        self.ts_ms = BASE_TS_MS
        self.live: list[int] = []  # insertion order, newest last
        self.image: dict[int, dict] = {}
        self.held: list[tuple[int, str]] = []  # (release segment, line)
        self.segments = 0

    def _tick(self) -> tuple[int, int]:
        self.lsn += self.rng.randint(1, 8)
        self.ts_ms += self.rng.randint(1, 40)
        return self.lsn, self.ts_ms

    def _new_image(self, pid: int, version: int) -> dict:
        return {
            "id": pid,
            "name": f"product-{pid}-v{version}",
            "description": " ".join(self.rng.sample(_WORDS, 3)),
            "price": self.rng.randint(100, 999_999) / 100,
        }

    def _insert(self, op: str) -> str:
        pid = self.next_id
        self.next_id += 1
        after = self._new_image(pid, 1)
        self.live.append(pid)
        self.image[pid] = after
        lsn, ts = self._tick()
        return _line(op, None, after, lsn, ts, lsn // 4)

    def _recent_live(self) -> int:
        back = min(int(self.rng.expovariate(1 / self.RECENT_SKEW)), len(self.live) - 1)
        return len(self.live) - 1 - back

    def snapshot(self, n: int) -> list[str]:
        return [self._insert("r") for _ in range(n)]

    def segment(self, n: int) -> list[str]:
        """Exactly ``n`` lines: released late events first, then fresh
        traffic with replays interleaved."""
        self.segments += 1
        out = [ln for due, ln in self.held if due <= self.segments]
        self.held = [(due, ln) for due, ln in self.held if due > self.segments]
        self.held += [(self.segments + 1, ln) for ln in out[n:]]
        out = out[:n]
        while len(out) < n:
            r = self.rng.random()
            if out and r < self.P_REPLAY:
                out.append(out[self.rng.randrange(len(out))])
                continue
            r = self.rng.random()
            if not self.live or r >= self.P_UPDATE + self.P_DELETE:
                out.append(self._insert("c"))
                continue
            idx = self._recent_live()
            pid = self.live[idx]
            before = self.image[pid]
            if r < self.P_UPDATE:
                after = dict(before)
                version = int(before["name"].rsplit("-v", 1)[1]) + 1
                after["name"] = f"product-{pid}-v{version}"
                after["price"] = self.rng.randint(100, 999_999) / 100
                if self.rng.random() < self.P_NULL_LSN / self.P_UPDATE:
                    # connector noise: no LSN, dropped by every SCD2 path
                    _, ts = self._tick()
                    out.append(_line("u", before, after, None, ts, None))
                    continue
                self.image[pid] = after
                lsn, ts = self._tick()
                line = _line("u", before, after, lsn, ts, lsn // 4)
                if self.rng.random() < self.P_LATE:
                    self.held.append((self.segments + self.rng.randint(1, 2), line))
                else:
                    out.append(line)
            else:
                self.live.pop(idx)
                del self.image[pid]
                lsn, ts = self._tick()
                out.append(_line("d", before, None, lsn, ts, lsn // 4))
        return out


def write_lines(path: str, lines: list[str]) -> int:
    """Write NDJSON lines; returns the byte count."""
    data = ("\n".join(lines) + "\n").encode()
    with open(path, "wb") as f:
        f.write(data)
    return len(data)


def write_cdc_log(out_dir: str, seed: int, n_events: int, n_files: int) -> int:
    """A finished change log of ``n_events`` lines (10% snapshot rows, the
    rest live segments of 1,000 lines) spread over ``n_files`` NDJSON files
    in LSN order. Returns the number of lines written."""
    os.makedirs(out_dir, exist_ok=True)
    log = CdcLog(seed)
    lines = log.snapshot(n_events // 10)
    while len(lines) < n_events:
        lines.extend(log.segment(min(1000, n_events - len(lines))))
    per = -(-len(lines) // n_files)
    for i in range(n_files):
        write_lines(os.path.join(out_dir, f"part-{i:05d}.json"), lines[i * per:(i + 1) * per])
    return len(lines)


# ---------------------------------------------------------------------------
# documents corpus
# ---------------------------------------------------------------------------

def _vocabulary(rng: random.Random, n: int) -> list[str]:
    syl = ["ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "ze", "po", "qu", "da"]
    words: set[str] = set()
    while len(words) < n:
        words.add("".join(rng.choice(syl) for _ in range(rng.randint(2, 4))))
    return sorted(words)


def documents(seed: int, n_docs: int, near_dup_share: float = 0.15) -> dict[str, list]:
    """Columns of the ``documents`` fixture table (doc_id, text, lang,
    source, n_chars). ``near_dup_share`` of the documents copy an earlier
    document with one to three token substitutions."""
    rng = random.Random(f"docs-{seed}")
    vocab = _vocabulary(rng, 4000)
    weights = [1.0 / (r + 1) for r in range(len(vocab))]  # Zipf-like
    cols: dict[str, list] = {k: [] for k in ("doc_id", "text", "lang", "source", "n_chars")}
    toks_by_doc: list[list[str]] = []
    for doc_id in range(n_docs):
        if toks_by_doc and rng.random() < near_dup_share:
            toks = list(toks_by_doc[rng.randrange(len(toks_by_doc))])
            for _ in range(rng.randint(1, 3)):
                toks[rng.randrange(len(toks))] = rng.choice(vocab)
        else:
            toks = rng.choices(vocab, weights, k=rng.randint(20, 90))
        toks_by_doc.append(toks)
        text = " ".join(toks)
        cols["doc_id"].append(doc_id)
        cols["text"].append(text)
        cols["lang"].append(rng.choice(["en", "de", "es", "fr", "zh"]))
        cols["source"].append(f"src{doc_id % 7}")
        cols["n_chars"].append(len(text))
    return cols


def write_documents(corpus_dir: str, seed: int, n_docs: int) -> None:
    """``<corpus_dir>/documents.parquet`` in the fixture schema."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    cols = documents(seed, n_docs)
    schema = pa.schema(
        [
            ("doc_id", pa.int64()),
            ("text", pa.string()),
            ("lang", pa.string()),
            ("source", pa.string()),
            ("n_chars", pa.int64()),
        ]
    )
    os.makedirs(corpus_dir, exist_ok=True)
    pq.write_table(
        pa.table(cols, schema=schema), os.path.join(corpus_dir, "documents.parquet")
    )
