"""Seeded envelope generator for the sink benchmark.

Writes Kafka-record envelopes (topic, partition, offset, key, value) as
JSON-lines files, one file per Kafka-partition slice, in the shape of
`StreamPipeline.EnvelopeSchema`. `value` is the record payload as a JSON
string: FIXTURES F1 (id, int_value) or F2 (the rich nested record).

Every byte comes from `random.Random(seed)`, so one seed always gives the
same files. Next to the files it writes `manifest.csv`: one line per row
with the leg it must land in (`data` or `dlq`) and, for DLQ rows, the
reason the pipeline must record. No Spark job runs here.

    python3 sinkbench/gen.py <workload> <seed> <out_dir> [--seconds N]
"""
import csv
import json
import os
import random
import sys

TOPIC = "events"
PARTITIONS = 4
# Fixed base for file modification times: the file source orders files by
# mtime, so increasing mtimes fix which files form each micro-batch.
MTIME_BASE = 1_700_000_000
# A backlog drain takes about 3.5-4 s on 4 cores. A run drains its backlog a
# fixed number of times, so the sample count does not depend on speed:
# WARM_DRAINS untimed ones, then one measured drain per DRAIN_S seconds
# (at least 3, so the figures are medians).
WARM_DRAINS = 2
DRAIN_S = 3

UNPARSEABLE = "unparseable payload"
POISON = "remote append rejected row"

# Workload shapes. rows_per_file x files_per_trigger is the micro-batch
# size; files = backlog size. trickle_pending is open-loop: one file of
# `rows_per_file` rows every `interval_ms`.
SHAPES = {
    "bulk_rich": dict(kind="f2", files=12, rows_per_file=6000, files_per_trigger=4),
    "dirty_replay": dict(kind="mix", files=8, rows_per_file=6000, files_per_trigger=4),
    "trickle_pending": dict(kind="f1", rows_per_file=100, interval_ms=100),
    # curate_batch reads the fixed corpus; the envelope batch is only the
    # static per-layer sample of a traced run.
    "curate_batch": dict(kind="f2", files=4, rows_per_file=6000, files_per_trigger=4),
}

ALPHA = "abcdefghijklmnopqrstuvwxyz"
# word pool for string fields, itself fixed (seeded apart from any run)
_pool = random.Random(0)
WORDS = ["".join(_pool.choice(ALPHA) for _ in range(_pool.randint(3, 10)))
         for _ in range(4096)]


def _word(rng):
    return WORDS[rng.getrandbits(12)]


def _double(rng):
    # four decimals ending in 5: one exact shortest text form in Python,
    # Spark and DuckDB alike
    return round(rng.getrandbits(23) / 1000 + 0.0005, 4)


def _long(rng):
    return rng.getrandbits(41) - 2**40


def f1_value(rng, pid, off):
    return {"id": f"id-{pid}-{off}", "int_value": _long(rng)}


def f2_value(rng, pid, off):
    b = rng.getrandbits(12)  # booleans and list sizes in one draw
    return {
        "id": f"id-{pid}-{off}",
        "int_value": _long(rng),
        "double_value": _double(rng),
        "boolean_value": bool(b & 1),
        "array_value": [_word(rng) for _ in range((b >> 1) % 6)],
        "map_value": {f"k{i}": rng.getrandbits(32) - 2**31 for i in range((b >> 4) % 5)},
        "struct_value": {"inner1": _word(rng), "inner2": bool(b & 128)},
        "optional_array_value": (None if b & 256
                                 else [_word(rng) for _ in range(1 + (b >> 9) % 3)]),
    }


_dumps = json.JSONEncoder(separators=(",", ":")).encode


def row_value(rng, kind, pid, off):
    """(value string or None, leg, reason) for one row of `kind`."""
    if kind == "f1":
        return _dumps(f1_value(rng, pid, off)), "data", ""
    if kind == "f2":
        return _dumps(f2_value(rng, pid, off)), "data", ""
    # mix: F1/F2 payloads validated against F1; ~10% bad
    r = rng.random()
    v = f2_value(rng, pid, off) if rng.random() < 0.5 else f1_value(rng, pid, off)
    if r < 0.01:
        return None, "dlq", UNPARSEABLE
    if r < 0.05:
        text = _dumps(v)
        return text[:rng.randint(1, len(text) - 1)], "dlq", UNPARSEABLE
    if r < 0.075:
        v["id"] = None
        return _dumps(v), "dlq", "null in required field $.id"
    if r < 0.10:
        del v["int_value"]
        return _dumps(v), "dlq", "null in required field $.int_value"
    return _dumps(v), "data", ""


def envelope_line(pid, off, key, value):
    return _dumps({"topic": TOPIC, "partition": pid, "offset": off,
                   "key": key, "value": value}) + "\n"


def write_files(out_dir, rng, kind, n_files, rows_per_file, manifest, sub):
    """Writes `n_files` slices round-robin over the partitions; returns names."""
    os.makedirs(os.path.join(out_dir, sub), exist_ok=True)
    next_off = [0] * PARTITIONS
    names = []
    for i in range(n_files):
        pid = i % PARTITIONS
        name = f"slice-{i:05d}-p{pid}.json"
        lines = []
        for _ in range(rows_per_file):
            off = next_off[pid]
            next_off[pid] += 1
            k = rng.getrandbits(12)
            key = None if k < 820 else f"k{k % 1000}"
            value, leg, reason = row_value(rng, kind, pid, off)
            lines.append(envelope_line(pid, off, key, value))
            manifest.append([i, pid, off, leg, reason])
        path = os.path.join(out_dir, sub, name)
        with open(path, "w", encoding="utf-8", newline="\n") as f:
            f.writelines(lines)
        os.utime(path, (MTIME_BASE + i, MTIME_BASE + i))
        names.append(name)
    return names


def poison(rng, manifest, files, files_per_trigger):
    """One append-rejected row, at a seeded place, in every second
    micro-batch: which batches fail is the same for every seed, so the
    figures do not swing with where the failures fall."""
    batches = (files + files_per_trigger - 1) // files_per_trigger
    picks = []
    for b in range(1, batches, 2):
        lo, hi = b * files_per_trigger, min(files, (b + 1) * files_per_trigger)
        good = [m for m in manifest if lo <= m[0] < hi and m[3] == "data"]
        m = rng.choice(good)
        m[3], m[4] = "dlq", POISON
        picks.append({"partition": m[1], "offset": m[2]})
    return picks


def generate(workload, seed, out_dir, seconds=10):
    """Writes the inputs of one run under `out_dir`; returns the plan dict."""
    shape = SHAPES[workload]
    rng = random.Random(f"{workload}/{seed}")
    os.makedirs(out_dir, exist_ok=True)
    manifest = []
    plan = {"workload": workload, "seed": seed, "topic": TOPIC, **shape,
            "poison": [], "poison_error": POISON}
    if workload == "trickle_pending":
        # enough files for the run plus the traced run's margin
        n = int((seconds * 1000 + 5000) // shape["interval_ms"]) + 1
        plan["files"] = n
        plan["file_names"] = write_files(out_dir, rng, "f1", n, shape["rows_per_file"],
                                         manifest, "staged")
    else:
        plan["file_names"] = write_files(out_dir, rng, shape["kind"], shape["files"],
                                         shape["rows_per_file"], manifest, "backlog")
        plan["warm_drains"] = WARM_DRAINS
        plan["drains"] = max(3, seconds // DRAIN_S)
        if workload == "dirty_replay":
            plan["poison"] = poison(rng, manifest, shape["files"],
                                    shape["files_per_trigger"])
    with open(os.path.join(out_dir, "manifest.csv"), "w", newline="") as f:
        w = csv.writer(f, lineterminator="\n")
        w.writerow(["file", "partition", "offset", "leg", "reason"])
        w.writerows(manifest)
    with open(os.path.join(out_dir, "plan.json"), "w") as f:
        json.dump(plan, f, indent=1, sort_keys=True)
    return plan


if __name__ == "__main__":
    args = sys.argv[1:]
    secs = 10
    if "--seconds" in args:
        i = args.index("--seconds")
        secs = int(args[i + 1])
        del args[i:i + 2]
    generate(args[0], int(args[1]), args[2], secs)
