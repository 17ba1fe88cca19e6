"""Correctness checks over a run's records.

Each check returns ``(attempted, failed, problems)``: the operations it
judged, how many of them failed (threw, or produced a wrong result), and
a short description of each failure for stderr.
"""

from collections import defaultdict


def check_keys(records, expected):
    """Timed key runs must return the expected row count; warm runs must
    also match the expected order-insensitive checksum."""
    attempted, failed, problems = 0, 0, []
    for r in records:
        if r["t"] not in ("op", "check"):
            continue
        attempted += 1
        want = expected.get(r["key"])
        if r.get("error"):
            why = r["error"]
        elif want is None:
            why = "no expected value"
        elif r["rows"] != want["rows"]:
            why = f"rows {r['rows']} != {want['rows']}"
        elif r["t"] == "check" and want.get("checksum") and r["checksum"] != want["checksum"]:
            why = f"checksum {r['checksum']} != {want['checksum']}"
        else:
            continue
        failed += 1
        problems.append(f"{r['key']}: {why}")
    return attempted, failed, problems


def check_eventlog(records, delivered,
                   groups=("myGroup", "replay0", "replay1", "replay2")):
    """Every produced message reaches every group exactly once, each
    group's offsets are unique and contiguous per partition, and no group
    ends with lag.

    ``delivered`` holds ``(group, partition, offset, msg_id)`` tuples. The
    judged operations are the produce and poll calls (a call that throws
    ends the run) and, for each group, its delivery, its offsets and its
    final lag; each of these three fails at most once.
    """
    produced = set()
    calls = 0
    for r in records:
        if r["t"] == "produce":
            calls += 1
            produced.update(range(r["first"], r["first"] + r["n"]))
        elif r["t"] == "poll":
            calls += 1
    ids = defaultdict(list)
    offsets = defaultdict(lambda: defaultdict(list))
    for group, partition, offset, msg_id in delivered:
        ids[group].append(msg_id)
        offsets[group][partition].append(offset)
    topic = [r for r in records if r["t"] == "topic"]
    failed, problems = 0, []
    for g in groups:
        seen = set(ids[g])
        delivery = [f"{n} {what}" for n, what in (
            (len(produced - seen), "produced messages never delivered"),
            (len(seen - produced), "delivered messages never produced"),
            (len(ids[g]) - len(seen), "messages delivered twice")) if n]
        offs = []
        for p, got in sorted(offsets[g].items()):
            unique = set(got)
            if len(got) > len(unique):
                offs.append(f"partition {p} repeats {len(got) - len(unique)} offsets")
            gaps = len(set(range(max(unique) + 1)) - unique)
            if gaps:
                offs.append(f"partition {p} misses {gaps} offsets")
        if not topic:
            lag = ["no final topic state"]
        else:
            hwm, done = topic[-1]["hwm"], topic[-1]["committed"].get(g, {})
            n = sum(h - done.get(p, -1) for p, h in hwm.items())
            lag = [f"final lag {n}"] if n else []
        for found in (delivery, offs, lag):
            if found:
                failed += 1
                problems.append(f"{g}: " + "; ".join(found))
    return calls + 3 * len(groups), failed, problems


def check_ingest(records, expected):
    """Each micro-batch grows the store by exactly its slice."""
    attempted, failed, problems = 0, 0, []
    for r in records:
        if r["t"] != "batch":
            continue
        attempted += 1
        want = expected.get(r["ingest"], {}).get(str(r["slice"]))
        if r["progress_batches"] != 1:
            why = f"slice ran as {r['progress_batches']} micro-batches"
        elif r["growth"] != want:
            why = f"store grew by {r['growth']}, expected {want}"
        else:
            continue
        failed += 1
        problems.append(f"{r['ingest']} slice {r['slice']}: {why}")
    return attempted, failed, problems
