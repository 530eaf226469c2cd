"""Self-test of the benchmark's own pieces (no Spark needed).

    python3 perfbench/selftest.py

- the generators are deterministic: the same seed gives byte-identical
  inputs, a different seed gives different ones;
- the generated change log has the promised shape (replays, NULL LSNs,
  late events, every op kind);
- ``BENCHMARK.json`` lists exactly the metrics of ``metrics.py``.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from gen import CdcLog, write_cdc_log, write_documents  # noqa: E402
from metrics import END_TO_END, PER_LAYER  # noqa: E402


def _digest(directory: str) -> str:
    h = hashlib.sha256()
    for name in sorted(os.listdir(directory)):
        h.update(name.encode())
        with open(os.path.join(directory, name), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def _inputs(seed: int, tmp: str) -> dict[str, str]:
    """Digest of every generated input for ``seed``."""
    out = {}
    log = CdcLog(seed)
    stream = "\n".join(log.snapshot(500) + sum((log.segment(300) for _ in range(4)), []))
    out["cdc_stream"] = hashlib.sha256(stream.encode()).hexdigest()
    d = os.path.join(tmp, f"log-{seed}")
    write_cdc_log(d, seed, 5_000, 3)
    out["scd2_query"] = _digest(d)
    d = os.path.join(tmp, f"corpus-{seed}")
    write_documents(d, seed, 300)
    out["documents"] = _digest(d)
    return out


def check_determinism() -> list[str]:
    errors = []
    with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
        first, again, other = _inputs(7, a), _inputs(7, b), _inputs(8, b)
    for name in first:
        if first[name] != again[name]:
            errors.append(f"{name}: seed 7 twice gave different bytes")
        if first[name] == other[name]:
            errors.append(f"{name}: seeds 7 and 8 gave identical bytes")
    return errors


def check_cdc_shape() -> list[str]:
    log = CdcLog(3)
    lines = log.snapshot(2_000)
    for _ in range(20):
        lines += log.segment(1_000)
    events = [json.loads(ln)["value"] for ln in lines]
    ops = {e["op"] for e in events}
    seen: set[str] = set()
    replays = late = high = 0
    for ln, e in zip(lines, events):
        lsn = e["source"]["lsn"]
        if ln in seen:
            replays += 1
        elif lsn is not None:
            late += lsn < high
            high = max(high, lsn)
        seen.add(ln)
    null_lsn = sum(e["source"]["lsn"] is None for e in events)
    errors = []
    if ops != {"r", "c", "u", "d"}:
        errors.append(f"op kinds {sorted(ops)}")
    if not 0.02 < replays / 20_000 < 0.06:
        errors.append(f"replay share {replays / 20_000:.3f}")
    if not null_lsn:
        errors.append("no NULL-LSN rows")
    if not late:
        errors.append("no late low-LSN events")
    return errors


def check_catalogue() -> list[str]:
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        spec = json.load(f)
    errors = []
    e2e = {m["name"]: (m["unit"], m["better"]) for m in spec["end_to_end"]}
    if e2e != END_TO_END:
        errors.append("end_to_end metrics differ from metrics.END_TO_END")
    layers = {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]}
    if layers != {k: v[:2] for k, v in PER_LAYER.items()}:
        errors.append("per_layer metrics differ from metrics.PER_LAYER")
    return errors


def main() -> int:
    errors = check_determinism() + check_cdc_shape() + check_catalogue()
    for e in errors:
        print(f"FAIL {e}")
    print("selftest:", "FAILED" if errors else "ok")
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
