"""Output checks, one per workload. Each returns (failed op ids, notes)."""
import gen


def _watermark_us(s):
    if not s:
        return None
    t = gen.dt.datetime.fromisoformat(s.replace("Z", "+00:00")).replace(tzinfo=None)
    return int((t - gen.BASE_TIME).total_seconds() * 1_000_000)


def stream_batches(res):
    """The progress record of the micro-batch that read each pushed
    message, keyed by message index, from the MemoryStream offsets each
    micro-batch covered (None if no batch covered it).
    """
    chk = res["checks"]
    ranges = []
    for p in chk["progress"]:
        if p["end_offset"] in (None, "null") or p["rows"] == 0:
            continue
        lo = -1 if p["start_offset"] in (None, "null") else int(p["start_offset"])
        ranges.append((lo, int(p["end_offset"]), p))
    batch_of = {}
    for off, first, until, _ in chk["pushes"]:
        hit = [p for lo, hi, p in ranges if lo < off <= hi]
        for i in range(first, until):
            batch_of[i] = hit[0] if hit else None
    return batch_of


def stream_payments(msgs, res):
    """Every admitted message's emitted trailing-10 s sum equals a batch
    recompute over all admitted messages (exact cents), every message
    beyond the allowed delay is dropped, and the drops the pipeline
    counted equal the messages sent late. Spark drops a row whose event
    time is at or below the watermark of the batch before the one that
    reads it.
    """
    chk = res["checks"]
    batch_of = stream_batches(res)
    ordered = sorted(chk["progress"], key=lambda p: p["batch"])
    late_wm = {p["batch"]: _watermark_us(q["watermark"])
               for q, p in zip(ordered, ordered[1:])}
    late, event = msgs["late"], msgs["event_us"]
    notes, bad, admitted = [], set(), []
    for i, b in batch_of.items():
        if b is None:
            bad.add(i)
            continue
        wm = late_wm.get(b["batch"])
        dropped = wm is not None and event[i] <= wm
        if dropped != bool(late[i]):
            bad.add(i)
        elif not dropped:
            admitted.append(i)
    if bad:
        notes.append(f"{len(bad)} messages admitted or dropped against the watermark")
    # trailing sums per province over admitted messages in event-time order
    expected, window, head, total = {}, {}, {}, {}
    for i in sorted(admitted, key=lambda j: event[j]):
        p = int(msgs["province"][i])
        lst = window.setdefault(p, [])
        lst.append((int(event[i]), int(msgs["cents"][i])))
        total[p] = total.get(p, 0) + lst[-1][1]
        h = head.get(p, 0)
        while lst[h][0] < event[i] - gen.WINDOW_S * 1_000_000:
            total[p] -= lst[h][1]
            h += 1
        head[p] = h
        expected[i] = total[p]
    want = {}
    for i in admitted:
        want.setdefault(batch_of[i]["batch"], []).append(
            (int(msgs["province"][i]), expected[i], i))
    got = {e["batch"]: sorted((int(p), round(v * 100)) for p, v in e["rows"])
           for e in chk["emits"]}
    for b, rows in want.items():
        if sorted((p, c) for p, c, _ in rows) != got.get(b, []):
            bad.update(i for _, _, i in rows)
            notes.append(f"batch {b}: emitted sums differ from the recompute")
    extra = [b for b in set(got) - set(want) if got[b]]
    if extra:
        notes.append(f"batches {sorted(extra)} emitted rows for no admitted message")
    n_late = sum(1 for i in batch_of if late[i])
    n_drop = sum(p["dropped_by_watermark"] for p in chk["progress"])
    if n_late != n_drop:
        notes.append(f"pipeline counted {n_drop} dropped, {n_late} sent late")
    return sorted(bad), notes


def _shingles(text):
    toks = text.split(" ")
    return {f"{a} {b}" for a, b in zip(toks, toks[1:])}


def dedup_corpus(truth, res):
    """Planted exact copies are all found (MinHash pairs at Jaccard 1,
    one component label per copy and source), every MinHash pair meets
    Jaccard >= 0.5 recomputed from the text, every SimHash pair is
    within Hamming 7 of the codes recomputed by graft's kernel, and
    every pass returned the same pairs and labels (a memo-cache hit or
    a nondeterministic pass shows here).
    """
    chk = res["checks"]
    texts, notes = truth["texts"], []
    mh = {(a, b): j for a, b, j in chk["minhash_pairs"]}
    for a, b in truth["exact"]:
        if mh.get((a, b)) != 1.0:
            notes.append(f"planted exact copy ({a}, {b}) not recovered")
    for (a, b), j in mh.items():
        sa, sb = _shingles(texts[a]), _shingles(texts[b])
        true_j = len(sa & sb) / len(sa | sb)
        if true_j < 0.5 or abs(true_j - j) > 1e-9:
            notes.append(f"pair ({a}, {b}): jaccard {j}, recomputed {true_j}")
    codes = {d: c for d, c in chk["simhash_codes"]}
    for a, b, h in chk["simhash_pairs"]:
        true_h = bin((codes[a] ^ codes[b]) & (2**64 - 1)).count("1")
        if true_h > 7 or true_h != h:
            notes.append(f"simhash pair ({a}, {b}): hamming {h}, recomputed {true_h}")
    label = {d: l for d, l in chk["labels"]}
    for a, b in truth["exact"]:
        if label.get(a) is None or label.get(a) != label.get(b):
            notes.append(f"planted copy ({a}, {b}) split across components")
    ops = [op for w in res["windows"] for op in w["ops"]]
    digests = chk["pass_digests"]
    failed = []
    if notes:
        failed = [op["id"] for op in ops]
    elif any(d != digests[0] for d in digests):
        notes.append("passes returned different outputs")
        failed = [op["id"] for op in ops]
    # a pass that reused an earlier pass's work would launch far fewer tasks
    for kind in ("minhash", "simhash", "labels"):
        ts = [op["tasks"] for op in ops if op["kind"] == kind]
        low = [t for t in ts if t < 0.5 * max(ts)]
        if low:
            notes.append(f"{kind}: task counts {ts} suggest a cached pass")
            failed += [op["id"] for op in ops if op["kind"] == kind and op["tasks"] in low]
    return sorted(set(failed)), notes


def plan_coverage(res):
    """Ids of the traced window's operations that have no plan-phase
    span: SQL that ran where the trace's listener did not reach, so the
    plan.* metrics would leave it out. Empty for an untraced run.
    """
    if len(res["windows"]) < 2:
        return []
    planned = {s["op"] for s in res["spans"] if s["name"].startswith("plan.")}
    return [op["id"] for op in res["windows"][1]["ops"] if op["id"] not in planned]
