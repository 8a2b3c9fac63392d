"""fhir_search: a closed loop of FHIR search requests over a store built
during set-up.

FHIR clients wait for each reply and page sequentially, so the loop is
closed: CLIENTS threads (at most nproc) each send their next request
when the previous one has returned. Every request is tiny, so driver-side
plan building and per-job and per-task fixed cost dominate. The engine
is bound once with ``SearchEngine.from_store``; requests are drawn by
seed from eight classes and every response is compared with the answer computed in Python from the generator's model. The classes
come round-robin from a seeded starting class, so every run has the same
mix; the parameters of each request are drawn by seed.
"""

from __future__ import annotations

import datetime as dt
import random
import threading
import time
from concurrent.futures import ThreadPoolExecutor

from healthcare_api_spark.plans.search import SearchConfig, SearchEngine, encode_page_token
from healthcare_api_spark.schemas import SCHEMAS
from healthcare_api_spark.sources.ndjson import read_ndjson
from healthcare_api_spark.sources.store import ResourceStore
from perfbench.gen import DOC_STATUSES, GENDERS, fhir_drop

N_PATIENTS = 120
CLIENTS = 2
PAGE = 10
PAGES = 3
CLASSES = ("total", "token", "date_range", "string_prefix", "reference", "chained",
           "revinclude", "paging")
# Set-up runs in a fresh JVM: three requests of each class first, so the
# timed ones run on JIT-compiled planner code.
WARMUP_OPS = 3 * len(CLASSES)
TRACED_OPS = 4 * len(CLASSES)
EXTRA_METRICS = {
    "sources.store.rows_read_per_row_returned": "ratio",
    "sources.store.rows_returned": "count",
    **{f"plans.search.{c}.p50_ms": "ms" for c in CLASSES},
}
TYPES = ("Patient", "DocumentReference")
CONFIGS = {
    "Patient": SearchConfig(
        params={"_id": "id"},
        array_string_params={"name": ("name", "family")},
    ),
    "DocumentReference": SearchConfig(
        reference_params={"subject": ("subject.reference", "Patient")},
    ),
}


class Model:
    """The generator's patients and documents, answering each request
    class in plain Python."""

    def __init__(self, drop):
        self.patients = drop.resources["Patient"]
        self.docs = drop.resources["DocumentReference"]
        self.gender = {p["id"]: p["gender"] for p in self.patients}

    def ids(self, pred) -> set[str]:
        return {p["id"] for p in self.patients if pred(p)}

    def doc_ids(self, pred) -> set[str]:
        return {d["id"] for d in self.docs if pred(d)}


def prepare(seed, inputs):
    drop = fhir_drop(seed, N_PATIENTS)
    drop.resources = {t: drop.resources[t] for t in TYPES}
    return Model(drop), drop.write_ndjson(inputs / "search")


def setup(bench, prepared):
    """Import the drop into a fresh store and bind the engine."""
    model, paths = prepared
    t, spark = bench.tracer, bench.spark
    store = ResourceStore(spark, str(bench.work / "store"))
    for rt in TYPES:
        df = t.call("sources.ndjson", "read_ndjson", read_ndjson, spark, paths[rt], SCHEMAS[rt])
        t.call("sources.store", "import_resources", store.import_resources, df, rt)
    engine = t.call("plans.search", "from_store", SearchEngine.from_store, store, CONFIGS)
    return model, engine


def run(bench, state):
    model, engine = state
    log = bench.log
    clients = 1 if bench.tracing_run else min(CLIENTS, bench.nproc)
    done = [0]
    lock = threading.Lock()
    rows_read = [0, 0]  # (input records, rows returned) in the traced pass
    offset = random.Random(f"search:{bench.seed}").randrange(len(CLASSES))

    def client(c: int) -> None:
        rng = random.Random(f"search:{bench.seed}:{c}")
        while True:
            with lock:
                k = done[0]
                if not bench.more(k):
                    return
                done[0] += 1
            cls = CLASSES[(k + offset) % len(CLASSES)]
            bench.tracer.parent = f"fhir_search.op{k}"
            log.verdict(REQUESTS[cls](rng, model, lambda rt, p: request(bench, engine, cls, rt, p, rows_read)))

    t0 = time.perf_counter()
    with ThreadPoolExecutor(max_workers=clients) as pool:
        for f in [pool.submit(client, c) for c in range(clients)]:
            f.result()
    wall = time.perf_counter() - t0
    n_requests = sum(len(v) for v in log.latencies.values())
    if bench.tracer.enabled:
        bench.extra["sources.store.rows_read_per_row_returned"] = (
            rows_read[0] / max(rows_read[1], 1), "ratio")
        bench.extra["sources.store.rows_returned"] = (float(rows_read[1]), "count")
    else:
        for cls in CLASSES:
            bench.extra[f"plans.search.{cls}.p50_ms"] = (log.p50_ms(cls), "ms")
    return {
        "throughput_per_s": n_requests / wall,
        "latency_p50_ms": log.p50_ms(),
        "samples": log.all_latencies(),
    }


def request(bench, engine, cls, rtype, params, rows_read):
    """One timed search call: plan build plus collect."""
    t = bench.tracer
    t0 = time.perf_counter()
    df = t.call("plans.search", "build", engine.search, rtype, params)
    rows = t.call("plans.search", "execute", df.collect)
    bench.log.record(cls, time.perf_counter() - t0)
    if t.enabled:
        rows_read[0] += t.spans[-1].input_records
        rows_read[1] += len(rows)
    return rows


def _same_ids(rows, expected: set[str], what: str) -> list[str]:
    got = [r["id"] for r in rows]
    if len(got) != len(set(got)) or set(got) != expected:
        return [f"{what}: {len(got)} rows, {len(set(got) ^ expected)} ids differ from the model"]
    return []


def _total(rng, m, search):
    status = rng.choice(DOC_STATUSES)
    rows = search("DocumentReference", {"status": status, "_total": "accurate"})
    want = len(m.doc_ids(lambda d: d["status"] == status))
    return [] if [r["total"] for r in rows] == [want] else [f"total {status}: {rows} != {want}"]


def _token(rng, m, search):
    g = rng.choice(GENDERS)
    return _same_ids(search("Patient", {"gender": g}), m.ids(lambda p: p["gender"] == g), f"gender={g}")


def _date_range(rng, m, search):
    lo = dt.date(1940, 1, 1) + dt.timedelta(days=rng.randrange(60 * 365))
    hi = lo + dt.timedelta(days=rng.randrange(365, 8 * 365))
    rows = search("Patient", {"birthDate": [f"ge{lo}", f"le{hi}"]})
    want = m.ids(lambda p: lo.isoformat() <= p["birthDate"] <= hi.isoformat())
    return _same_ids(rows, want, f"birthDate {lo}..{hi}")


def _string_prefix(rng, m, search):
    fam = rng.choice(m.patients)["name"][0]["family"]
    prefix = fam[: rng.randint(1, 3)].lower()
    want = m.ids(lambda p: any(n["family"].lower().startswith(prefix) for n in p["name"]))
    return _same_ids(search("Patient", {"name": prefix}), want, f"name={prefix}")


def _reference(rng, m, search):
    ref = f"Patient/{rng.choice(m.patients)['id']}"
    want = m.doc_ids(lambda d: d["subject"]["reference"] == ref)
    return _same_ids(search("DocumentReference", {"subject": ref}), want, f"subject={ref}")


def _chained(rng, m, search):
    g, status = rng.choice(GENDERS), rng.choice(DOC_STATUSES)
    rows = search("DocumentReference", {"subject.gender": g, "status": status, "_elements": "id"})

    def match(d):
        typ, _, rid = d["subject"]["reference"].partition("/")
        return typ == "Patient" and m.gender.get(rid) == g and d["status"] == status

    return _same_ids(rows, m.doc_ids(match), f"subject.gender={g}")


def _revinclude(rng, m, search):
    pid = rng.choice(m.patients)["id"]
    rows = search("Patient", {"_id": pid, "_revinclude": "DocumentReference:subject"})
    want = m.doc_ids(lambda d: d["subject"]["reference"] == f"Patient/{pid}")
    if [r["id"] for r in rows] != [pid]:
        return [f"_revinclude {pid}: rows {[r['id'] for r in rows]}"]
    return _same_ids(rows[0]["revincluded_DocumentReference"] or [], want, f"_revinclude {pid}")


def _paging(rng, m, search):
    """Walk PAGES keyset pages; each page must equal its slice of the
    model's order, so the walk has no gaps and no duplicates."""
    g = rng.choice(GENDERS)
    desc = rng.random() < 0.5
    order = sorted((p for p in m.patients if p["gender"] == g), key=lambda p: p["id"])
    order.sort(key=lambda p: p["birthDate"], reverse=desc)
    params = {"gender": g, "_sort": ("-" if desc else "") + "birthDate", "_count": str(PAGE)}
    seen: list[str] = []
    for page in range(PAGES):
        rows = search("Patient", params)
        ids = [r["id"] for r in rows]
        want = [p["id"] for p in order[page * PAGE:(page + 1) * PAGE]]
        if ids != want:
            return [f"page {page} of gender={g} desc={desc}: {ids} != {want}"]
        seen += ids
        if not rows:
            break
        params = dict(params, _page_token=encode_page_token(rows[-1]["birthDate"], rows[-1]["id"]))
    if len(seen) != len(set(seen)):
        return [f"paging gender={g}: duplicate ids"]
    return []


REQUESTS = {
    "total": _total, "token": _token, "date_range": _date_range, "string_prefix": _string_prefix,
    "reference": _reference, "chained": _chained, "revinclude": _revinclude, "paging": _paging,
}
