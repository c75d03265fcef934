"""Seeded input generators for the graft benchmark.

Each generator writes the program's inputs into a work directory and
returns a `(plan, ledger)` pair:

- `plan` is what the JVM runner needs: input paths and the operation
  list, with parameters. It is written to `plan.json`.
- `ledger` holds the expected answer of every operation (order-independent
  row digests, versions, counts) and the planted facts (noise lines,
  duplicate pairs). It stays in Python and is compared with what the
  runner reports.

Everything is drawn from `random.Random(seed)`, so the same seed gives
byte-identical files and the same plan.
"""

import hashlib
import json
import os
import random
import zlib

# ----------------------------------------------------------------- digests


def fmt(v):
    """Render one value the way the runner's `Digest` does."""
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    return str(v)


def row_crc(r):
    return zlib.crc32("\t".join(fmt(x) for x in r).encode("utf-8"))


def digest(rows):
    """Order-independent digest of a row multiset: `count:sum(crc32(row))`."""
    n = 0
    s = 0
    for r in rows:
        n += 1
        s += row_crc(r)
    return f"{n}:{s}"


def file_sha256(path):
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()


PID = 1_000_000_000  # IdCodec: Pid(n) -> n + 1e9


def pid(n):
    return PID + n


# -------------------------------------------------------------- the dump

P_INSTANCE, P_SUBCLASS = 31, 279
P_QTY, P_TIME, P_COORD = 1082, 571, 625
P_MONO, P_MULTI = 1448, 1476
STRING_PROPS = [  # (property, datatype): every bare-string datatype family
    (1, "string"), (2, "external-id"), (3, "url"), (4, "commonsMedia"),
    (5, "math"), (6, "geo-shape"), (7, "musical-notation"), (8, "tabular-data"),
]
ABSENT_PROPS = [40, 41]  # novalue / somevalue self-loops
ENTITY_PROPS = [100 + j for j in range(40)]  # Zipf-skewed long tail
UNIT = "http://www.wikidata.org/entity/Q11573"
GLOBE = "http://www.wikidata.org/entity/Q2"
LANGS = ["de", "fr", "es", "ja"]


def _snak(prop, datatype, vtype, value):
    return {"snaktype": "value", "property": f"P{prop}", "datatype": datatype,
            "datavalue": {"value": value, "type": vtype}}


def _claim(snak, rank="normal"):
    return {"mainsnak": snak, "type": "statement", "rank": rank}


def _item(q):
    return {"entity-type": "item", "numeric-id": q, "id": f"Q{q}"}


def _zipf_pick(rng, pool, s=1.2):
    weights = [1.0 / (i + 1) ** s for i in range(len(pool))]
    return rng.choices(pool, weights)[0]


def make_dump(rng, n_items, path, blank_rate=0.01, malformed_rate=0.01):
    """Write a JSON-lines dump of `n_items` items; return its ledger.

    The ledger carries the expected rows of the six shredded tables (as
    digests), the noise and malformed line counts, and the typed values
    the graph queries ask about."""
    n_classes = max(20, n_items // 40)
    tables = {t: [] for t in ("vertex", "edge", "string", "quantity", "coordinates", "time")}
    p31, p279, qty, times = {}, {}, {}, {}
    lines = ["["]
    blanks = malformed = 0
    for q in range(1, n_items + 1):
        claims = {}

        def add(prop, claim):
            claims.setdefault(f"P{prop}", []).append(claim)

        def edge(prop, dst, rank="normal"):
            add(prop, _claim(_snak(prop, "wikibase-item", "wikibase-entityid", _item(dst)), rank))
            if rank != "deprecated":
                tables["edge"].append((q, pid(prop), dst))
        # P31 (heavy): every item; P279: classes point to lower classes
        # (a DAG, so closures are bounded)
        for dst in sorted(set(rng.randint(1, n_classes) for _ in range(rng.choice([1, 1, 2])))):
            edge(P_INSTANCE, dst)
            p31.setdefault(q, []).append(dst)
        if 1 < q <= n_classes:
            for dst in sorted(set(rng.randint(1, q - 1) for _ in range(rng.choice([1, 2])))):
                edge(P_SUBCLASS, dst)
                p279.setdefault(q, []).append(dst)
        for _ in range(rng.randint(1, 5)):
            edge(_zipf_pick(rng, ENTITY_PROPS), rng.randint(1, n_items))
        if rng.random() < 0.1:  # deprecated statements are never served
            edge(_zipf_pick(rng, ENTITY_PROPS), rng.randint(1, n_items), rank="deprecated")
        if rng.random() < 0.05:
            prop = rng.choice(ABSENT_PROPS)
            snaktype = "novalue" if prop == ABSENT_PROPS[0] else "somevalue"
            add(prop, _claim({"snaktype": snaktype, "property": f"P{prop}",
                              "datatype": "wikibase-item"}))
            tables["edge"].append((q, pid(prop), q))
        # the string family
        for prop, datatype in rng.sample(STRING_PROPS, rng.randint(1, 3)):
            text = f"{datatype}-{q}-{rng.randint(0, 999999)}"
            add(prop, _claim(_snak(prop, datatype, "string", text)))
            tables["string"].append((q, pid(prop), text))
        if rng.random() < 0.3:
            text = f"titel {q}"
            add(P_MONO, _claim(_snak(P_MONO, "monolingualtext", "monolingualtext",
                                     {"text": text, "language": rng.choice(LANGS)})))
            tables["string"].append((q, pid(P_MONO), text))
        if rng.random() < 0.2:
            langs = rng.sample(LANGS + ["en"], 2)
            value = [{"text": f"name {q} {lang}", "language": lang} for lang in langs]
            add(P_MULTI, _claim(_snak(P_MULTI, "multilingualtext", "multilingualtext", value)))
            if "en" in langs:
                tables["string"].append((q, pid(P_MULTI), f"name {q} en"))
            else:  # no English entry: an edge self-loop
                tables["edge"].append((q, pid(P_MULTI), q))
        # quantity: unique amounts per item (quarter steps, so exact in
        # binary), half with bounds, half dimensionless
        if rng.random() < 0.6:
            quarters = rng.randint(-4000, 400000) * 8 + (q % 8)
            amount = quarters / 4
            value = {"amount": f"{amount:+.2f}", "unit": "1"}
            if q % 2 == 0:
                value.update(lowerBound=f"{amount - 1:+.2f}", upperBound=f"{amount + 1:+.2f}", unit=UNIT)
            add(P_QTY, _claim(_snak(P_QTY, "quantity", "quantity", value)))
            unit_id = 11573 if q % 2 == 0 else None
            tables["quantity"].append((q, pid(P_QTY), quarters, unit_id))
            qty[q] = amount
        if rng.random() < 0.3:
            lat8, lon8 = rng.randint(-720, 720), rng.randint(-1440, 1440)
            add(P_COORD, _claim(_snak(P_COORD, "globe-coordinate", "globecoordinate", {
                "latitude": lat8 / 8, "longitude": lon8 / 8, "altitude": None,
                "precision": 0.01, "globe": GLOBE})))
            tables["coordinates"].append((q, pid(P_COORD), lat8, 2))
        if rng.random() < 0.5:
            kind = rng.random()
            if kind < 0.05:
                raw, shown, ts = "+10000-00-00T00:00:00Z", "infinity", None
            elif kind < 0.1:
                y = rng.randint(100, 2999)
                raw, shown, ts = f"-{y:04d}-03-11T00:00:00Z", f"-{y:04d}-03-11 00:00:00", None
            elif kind < 0.2:
                y = rng.randint(1500, 2020)
                raw = f"+{y:04d}-00-00T00:00:00Z"
                shown = ts = f"{y:04d}-01-01 00:00:00"
            else:
                y, m, d = rng.randint(1500, 2020), rng.randint(1, 12), rng.randint(1, 28)
                raw = f"+{y:04d}-{m:02d}-{d:02d}T00:00:00Z"
                shown = ts = f"{y:04d}-{m:02d}-{d:02d} 00:00:00"
            add(P_TIME, _claim(_snak(P_TIME, "time", "time", {
                "time": raw, "timezone": 0, "before": 0, "after": 0, "precision": 11,
                "calendarmodel": "http://www.wikidata.org/entity/Q1985727"})))
            tables["time"].append((q, pid(P_TIME), shown))
            if ts is not None:
                times[q] = ts
        labels = {lang: {"language": lang, "value": f"{lang} item {q}"}
                  for lang in rng.sample(LANGS, rng.randint(0, 2))}
        label = None
        if rng.random() < 0.9:
            label = f"item {q}"
            labels["en"] = {"language": "en", "value": label}
        descriptions = {}
        if rng.random() < 0.5:
            descriptions["en"] = {"language": "en", "value": f"description of {q}"}
        tables["vertex"].append((q, label))
        entity = {"type": "item", "id": f"Q{q}", "labels": labels,
                  "descriptions": descriptions, "claims": claims}
        lines.append(json.dumps(entity, separators=(",", ":")) + ",")
        # noise the reader must tolerate
        if rng.random() < blank_rate:
            lines.append(rng.choice(["", "   "]))
            blanks += 1
        if rng.random() < malformed_rate:
            lines.append(lines[-1][: rng.randint(5, 60)] + ",")
            malformed += 1
    lines[-1] = lines[-1].rstrip(",")
    lines.append("]")
    with open(path, "w", encoding="utf-8") as f:
        f.write("\n".join(lines) + "\n")
    return {
        "entities": n_items,
        "lines": len(lines),
        "skipped_lines": 2 + blanks + malformed,
        "dump_bytes": os.path.getsize(path),
        "tables": {t: digest(rows) for t, rows in tables.items()},
        "p31": p31, "p279": p279, "qty": qty, "times": times,
        "labels": dict(tables["vertex"]),
        "edge_rows": tables["edge"],
        "quantity_rows": tables["quantity"],
    }


# ------------------------------------------------------------ graph_query

# One round of the query mix: each kind once, shuffled. No traffic data
# exists for graft to weight one kind above another, and graft.Bench's
# catalog holds each consumer query shape once (wd_query_labels,
# wd_query_typed_filter, wd_query_2hop, wd_query_path_closure,
# wd_property_stats, ...), so no kind is weighted. The runner stops only
# between rounds, so every run measures the same multiset of kinds.
QUERY_KINDS = ["lookup", "label", "qty_range", "time_range", "two_hop", "closure",
               "prop_agg", "topk"]
# A run measures at least two rounds. A round takes about as long as the
# default --seconds, so a run would otherwise measure one round when the
# host is slow and two when it is fast, and the second round is faster.
MIN_ROUNDS = 2
# Rounds keep getting faster under the JIT for three to four rounds after
# set-up (on a 4-vCPU VM, from about 4.4 s to 3.4 s), so four rounds warm
# up before timing.
WARMUP_ROUNDS = 4
CLOSURE_DEPTH = 3
TOPK = 3


def _closure_levels(p279, start):
    """The new classes each step of the bounded closure finds."""
    seen, frontier, levels = set(), {start}, []
    for _ in range(CLOSURE_DEPTH):
        frontier = {d for s in frontier for d in p279.get(s, [])} - seen
        seen |= frontier
        levels.append(frontier)
    return levels


def _closure(p279, start):
    return set().union(*_closure_levels(p279, start))


def make_graph_query(seed, work, n_items=1000, rounds=40):
    rng = random.Random(seed)
    dump = os.path.join(work, "dump.json")
    led = make_dump(rng, n_items, dump)
    p31, p279, qty, times, labels = led["p31"], led["p279"], led["qty"], led["times"], led["labels"]
    # closure starts that reach every level, so each closure query runs
    # all CLOSURE_DEPTH steps, as the runner stops at an empty frontier
    classes = [c for c in sorted(p279) if all(_closure_levels(p279, c)[:-1])]
    qty_sorted = sorted(qty.values())
    prop_counts = {}
    for _, p, _ in led["edge_rows"]:
        prop_counts[p] = prop_counts.get(p, 0) + 1
    by_prop = {}
    for q, p, quarters, _ in led["quantity_rows"]:
        by_prop.setdefault(p, []).append((-quarters, q))
    agg_digest = digest(prop_counts.items())
    topk_digest = digest((p, q) for p, xs in by_prop.items() for _, q in sorted(xs)[:TOPK])
    ops, expected = [], {}
    kinds = []
    for r in range(WARMUP_ROUNDS + rounds):
        one = list(QUERY_KINDS)
        rng.shuffle(one)
        kinds += one
    starts = {len(QUERY_KINDS) * (WARMUP_ROUNDS + r) for r in range(rounds)}
    for i, kind in enumerate(kinds):
        op = {"id": i, "kind": kind, "start": i in starts}
        if kind == "lookup":
            q = rng.randint(1, n_items)
            op.update(prop=pid(P_INSTANCE), src=q)
            rows = [(d,) for d in p31.get(q, [])]
        elif kind == "label":
            q = rng.randint(1, n_items)
            op.update(vid=q)
            rows = [(q, labels[q])]
        elif kind == "qty_range":
            lo_i = rng.randrange(len(qty_sorted))
            lo = qty_sorted[lo_i]
            hi = qty_sorted[min(len(qty_sorted) - 1, lo_i + rng.randint(0, 40))]
            op.update(prop=pid(P_QTY), lo=lo, hi=hi)
            rows = [(q,) for q, a in qty.items() if lo <= a <= hi]
        elif kind == "time_range":
            y = rng.randint(1500, 2015)
            lo, hi = f"{y:04d}-01-01 00:00:00", f"{y + rng.randint(1, 5):04d}-01-01 00:00:00"
            op.update(prop=pid(P_TIME), lo=lo, hi=hi)
            rows = [(q, t) for q, t in times.items() if lo <= t < hi]
        elif kind == "two_hop":
            q = rng.randint(1, n_items)
            op.update(p1=pid(P_INSTANCE), p2=pid(P_SUBCLASS), src=q)
            rows = [(d,) for d in sorted({d2 for d1 in p31.get(q, []) for d2 in p279.get(d1, [])})]
        elif kind == "closure":
            c = rng.choice(classes)
            op.update(prop=pid(P_SUBCLASS), src=c, depth=CLOSURE_DEPTH)
            rows = [(d,) for d in _closure(p279, c)]
        elif kind == "prop_agg":
            rows = None
        else:  # topk per property by amount desc, src asc
            op.update(k=TOPK)
            rows = None
        ops.append(op)
        expected[i] = {"prop_agg": agg_digest, "topk": topk_digest}.get(kind) or digest(rows)
    plan = {"workload": "graph_query", "dump": dump, "layout": os.path.join(work, "layout"),
            "warmup": WARMUP_ROUNDS * len(QUERY_KINDS), "min_rounds": MIN_ROUNDS, "ops": ops}
    ledger = {"expected": expected, "input_bytes": led["dump_bytes"], "files": [dump],
              "setup_expected": ";".join(f"{t}={d}" for t, d in led["tables"].items()),
              "skipped_lines": led["skipped_lines"], "entities": n_items}
    return plan, ledger


# ------------------------------------------------------------ table_churn

ROW_WIDTH = 24  # k BIGINT (8) + v BIGINT (8) + tag STRING of 8 ASCII chars
# The three appends add as many rows as the two merges and the deleteKeys
# remove, so live rows stay level. The gated latency weights each write
# kind once however often it runs (see `metrics.kind_p50_gmean`). A run
# measures at least one cycle (`min_rounds`).
CYCLE = ["append", "append", "append", "incremental", "merge_cow", "change_feed", "delete",
         "head_read", "merge_mor", "head_read", "compact", "stream_drain"]
# Cycles keep getting faster under the JIT for about three cycles after
# set-up (on a 4-vCPU VM, from about 4.4 s to 3.6 s), so three cycles warm
# up before timing.
WARMUP_CYCLES = 6


def _tag(rng):
    return "".join(rng.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(8))


def make_table_churn(seed, work, initial_rows=10000, batch=300, cycles=16):
    """A seeded single-writer op sequence and its in-memory row model.

    Live rows stay near `initial_rows`: each cycle appends 3 x `batch`
    new keys and deletes as many through MERGE, deleteKeys and
    merge-on-read, so op costs do not drift over a run."""
    rng = random.Random(seed)
    state = {k: (rng.randint(0, 10**9), _tag(rng)) for k in range(initial_rows)}
    initial_state, prev = state, None
    # running digest of `state`, so head reads cost O(1) to predict
    live_n, live_sum = len(state), sum(row_crc((k,) + r) for k, r in state.items())
    next_key = initial_rows
    version = 1
    ops, expected = [], {}

    def commit(new_state, changed):
        nonlocal version, state, prev, live_n, live_sum
        for k in changed:
            if k in state:
                live_n, live_sum = live_n - 1, live_sum - row_crc((k,) + state[k])
            if k in new_state:
                live_n, live_sum = live_n + 1, live_sum + row_crc((k,) + new_state[k])
        version += 1
        prev, state = state, new_state
        return f"v{version}"

    i = 0
    for c in range(cycles):
        cycle_start = version
        appended = []
        for j, kind in enumerate(CYCLE):
            op = {"id": i, "kind": kind, "start": j == 0}
            if kind == "append":
                rows = [(next_key + j, rng.randint(0, 10**9), _tag(rng)) for j in range(batch)]
                next_key += batch
                new = dict(state)
                new.update((k, (v, t)) for k, v, t in rows)
                appended += rows
                op["rows"] = rows
                exp = commit(new, [r[0] for r in rows])
            elif kind == "incremental":
                op.update({"from": cycle_start, "to": version})
                exp = digest(appended)
            elif kind in ("merge_cow", "merge_mor"):
                touched = rng.sample(sorted(state), batch)
                upd, dels = touched[: batch // 2], touched[batch // 2:]
                new = dict(state)
                rows = []
                for k in upd:
                    v, t = rng.randint(0, 10**9), _tag(rng)
                    new[k] = (v, t)
                    rows.append((k, v, t, False))
                for k in dels:
                    rows.append((k,) + state[k] + (True,))
                    del new[k]
                op["rows"] = rows
                exp = commit(new, touched)
            elif kind == "change_feed":
                op.update({"from": version - 1, "to": version})
                ch = []
                for k in touched:
                    if k not in state:
                        ch.append(("delete", k) + prev[k])
                    elif k not in prev:
                        ch.append(("insert", k) + state[k])
                    elif prev[k] != state[k]:
                        ch.append(("update_preimage", k) + prev[k])
                        ch.append(("update_postimage", k) + state[k])
                exp = digest(ch)
            elif kind == "delete":
                keys = rng.sample(sorted(state), 2 * batch)
                new = dict(state)
                for k in keys:
                    del new[k]
                op["keys"] = keys
                exp = commit(new, keys)
            elif kind in ("head_read", "stream_drain"):
                exp = f"{live_n}:{live_sum}"
            else:  # compact: same rows, new version
                exp = commit(state, [])
            op["live_rows"] = len(state)
            ops.append(op)
            expected[i] = exp
            i += 1
    table = os.path.join(work, "table")
    initial = os.path.join(work, "initial.json")
    with open(initial, "w") as f:
        json.dump([(k, v, t) for k, (v, t) in initial_state.items()], f, separators=(",", ":"))
    plan = {"workload": "table_churn", "table": table, "initial": initial,
            "checkpoints": os.path.join(work, "checkpoints"),
            "warmup": WARMUP_CYCLES * len(CYCLE), "min_rounds": 1,
            "ops": ops, "row_width": ROW_WIDTH}
    ledger = {"expected": expected, "input_bytes": initial_rows * ROW_WIDTH,
              "files": [initial], "row_width": ROW_WIDTH, "initial_rows": initial_rows,
              "setup_expected": "v1"}
    return plan, ledger


# ------------------------------------------------------------------ curate

STOPWORDS = ["the", "a", "of", "and", "is", "to", "in"]  # TextFunctions.Stopwords
LSH_CAP = 50  # DedupCatalog.MaxBucketWidth: wider buckets are dropped


def quality_pass(text):
    """Pipeline.qualityFilter's exact-integer gate."""
    words = text.split(" ")
    nw, ln = len(words), len(text)
    alpha = sum(1 for ch in text if "a" <= ch <= "z")
    stop = sum(1 for w in words if w in STOPWORDS)
    return min(nw, 100) * ln * nw + 60 * alpha * nw + 40 * (nw - stop) * ln >= 160 * ln * nw


def shingles(text, k=3):
    ws = text.split(" ")
    return {" ".join(ws[i:i + k]) for i in range(len(ws) - k + 1)}


def split_of(doc_id):
    b = int(hashlib.md5(str(doc_id).encode()).hexdigest()[:8], 16) % 100
    return "train" if b < 80 else "val" if b < 90 else "test"


def make_curate(seed, work, n_base=600, exact_rate=0.05, near_rate=0.05, low_rate=0.2,
                flood=LSH_CAP + 10):
    """A document corpus with planted exact and near duplicates.

    - base documents draw their words from a seeded vocabulary; a
      `low_rate` share are short and made of digits and capitals, and
      fail the quality gate;
    - `exact_rate` of bases get an identical copy, `near_rate` a copy
      with one word replaced (Jaccard of 3-shingles well above 0.7);
    - one flood of `flood` identical documents overflows an LSH bucket,
      so the width cap drops its rows and exact dedup must catch it."""
    rng = random.Random(seed)
    vocab = sorted({"".join(rng.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(rng.randint(3, 9)))
                    for _ in range(4000)})

    def text(low):
        words = []
        # the gate needs roughly 80+ words of mostly lowercase text, so
        # good documents are long and low-quality ones short
        for _ in range(rng.randint(30, 60) if low else rng.randint(85, 130)):
            if rng.random() < 0.25:
                words.append(rng.choice(STOPWORDS))
            elif low:
                words.append(rng.choice(["X", "Y", "#"]) + str(rng.randint(0, 99999)))
            else:
                words.append(rng.choice(vocab))
        return " ".join(words)

    docs = []  # (text, lang, group)
    base_text = {}
    exact_pairs, near_pairs = [], []
    for b in range(n_base):
        t = text(rng.random() < low_rate)
        lang = rng.choice(["en", "en", "de"])
        docs.append((t, lang, ("base", b)))
        base_text[b] = t
        r = rng.random()
        if r < exact_rate:
            docs.append((t, lang, ("exact", b)))
        elif r < exact_rate + near_rate:
            ws = t.split(" ")
            j = rng.randrange(len(ws))
            ws[j] = "zz" + ws[j]
            docs.append((" ".join(ws), lang, ("near", b)))
    flood_text = text(False)
    docs += [(flood_text, "en", ("flood", i)) for i in range(flood)]
    order = list(range(len(docs)))
    rng.shuffle(order)
    doc_id = {}  # position in `docs` -> id
    rows = []
    for new_id, pos in enumerate(order, start=1):
        doc_id[pos] = new_id * 7  # sparse ids
    base_id = {}
    for pos, (t, lang, (kind, b)) in enumerate(docs):
        if kind == "base":
            base_id[b] = doc_id[pos]
    for pos, (t, lang, (kind, b)) in enumerate(docs):
        if kind == "exact":
            exact_pairs.append(tuple(sorted((base_id[b], doc_id[pos]))))
        elif kind == "near":
            near_pairs.append(tuple(sorted((base_id[b], doc_id[pos]))))
            sa, sb = shingles(base_text[b]), shingles(t)
            assert len(sa & sb) / len(sa | sb) >= 0.8, "planted near duplicate too far"
    # expected survivors: quality gate, then min id per identical text,
    # then min id per near-duplicate pair (pairs are disjoint)
    by_text = {}
    for pos, (t, lang, _) in enumerate(docs):
        by_text.setdefault(t, []).append(doc_id[pos])
    exact_drop = {i for ids in by_text.values() for i in ids if i != min(ids)}
    near_drop = {max(p) for p in near_pairs + exact_pairs}
    kept, all_docs = [], []
    path = os.path.join(work, "corpus.json")
    with open(path, "w", encoding="utf-8") as f:
        for pos in sorted(doc_id, key=doc_id.get):
            t, lang, _ = docs[pos]
            i = doc_id[pos]
            f.write(json.dumps({"doc_id": i, "lang": lang, "text": t}, separators=(",", ":")) + "\n")
            all_docs.append((i, lang, t))
            if quality_pass(t) and i not in exact_drop and i not in near_drop:
                kept.append((i, split_of(i)))
    # each curate run is a round of its own
    plan = {"workload": "curate", "corpus": path, "staged": os.path.join(work, "documents"),
            "min_rounds": MIN_ROUNDS,
            "out": os.path.join(work, "curated")}
    ledger = {"expected_kept": digest(kept), "setup_expected": digest(all_docs), "near_pairs": near_pairs, "exact_pairs": exact_pairs,
              "docs": len(docs), "flood_rows": flood, "input_bytes": os.path.getsize(path),
              "files": [path]}
    return plan, ledger


GENERATORS = {"graph_query": make_graph_query,
              "table_churn": make_table_churn, "curate": make_curate}


def generate(workload, seed, work):
    """Generate one workload's inputs under `work`; return (plan, ledger)."""
    os.makedirs(work, exist_ok=True)
    plan, ledger = GENERATORS[workload](seed, work)
    plan["seed"] = seed
    path = os.path.join(work, "plan.json")
    with open(path, "w") as f:
        json.dump(plan, f, separators=(",", ":"))
    ledger["files"] = ledger["files"] + [path]
    return plan, ledger
