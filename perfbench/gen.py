"""Seeded input generators and the Python models the outputs are checked
against.

Every generator draws from ``random.Random`` seeded with the workload
seed, so one seed always gives byte-identical inputs. The engine only
ever sees the files written here; the models (expected store counts,
search answers, planted duplicates, transition counts) stay on the
benchmark side.
"""

from __future__ import annotations

import datetime as dt
import json
import random
import uuid
from dataclasses import dataclass, field
from pathlib import Path

TRANSFORM_ONLY = (
    "BodyStructure",
    "Encounter",
    "ImagingStudy",
    "MedicationAdministration",
    "ResearchStudy",
    "ResearchSubject",
)
# Extensions the assay MIME rewrite knows, plus the extension-less case
# that must fall back to application/octet-stream (FIXTURES.md §3, §6.4).
EXTENSIONS = (".maf", ".bed", ".vcf", ".sam", ".R", ".yaml", ".md", ".csv", ".pdf", "")
OCTET_STREAM = "application/octet-stream"
# Groups with no Specimen member (FIXTURES.md §2, the guard at assay.py:71-73)
EMPTY_GROUPS = 2
GENDERS = ("female", "male", "other", "unknown")
DOC_STATUSES = ("current", "current", "current", "superseded", "entered-in-error")
FAMILIES = (
    "Abbott", "Alvarez", "Baker", "Barnes", "Becker", "Castillo", "Chen", "Cohen",
    "Diaz", "Dubois", "Evans", "Fischer", "Garcia", "Gomez", "Hansen", "Hoffmann",
    "Ito", "Jensen", "Kim", "Klein", "Kowalski", "Lambert", "Lopez", "Martin",
    "Meyer", "Moreau", "Nguyen", "Novak", "Olsen", "Ortiz", "Park", "Perez",
    "Quinn", "Ramos", "Reyes", "Richter", "Rossi", "Sato", "Schmidt", "Silva",
    "Tanaka", "Torres", "Vargas", "Weber", "Wong", "Young", "Zhang", "Ziegler",
)


@dataclass
class FhirDrop:
    """A synthetic R5 NDJSON drop (FIXTURES.md shapes and ratios) and the
    facts the ingest and search outputs are checked against."""

    resources: dict[str, list[dict]]
    # store rows per resource type after the ingest pipeline (before the
    # upsert delta); only the groups without a Specimen member stay Groups
    expected_counts: dict[str, int]
    empty_group_ids: set[str]
    expected_assay_ids: set[str]
    # doc id -> Patient reference it must carry after the assay rewrite
    expected_subject: dict[str, str]
    # rewritten docs whose url has no extension (octet-stream fallback)
    extensionless_bound_docs: set[str]
    update_ids: list[str]
    new_copy_ids: list[str]

    def write_ndjson(self, directory: Path) -> dict[str, str]:
        directory.mkdir(parents=True, exist_ok=True)
        paths = {}
        for rtype, rows in self.resources.items():
            p = directory / f"{rtype}.ndjson"
            p.write_text("".join(json.dumps(r, sort_keys=True) + "\n" for r in rows))
            paths[rtype] = str(p)
        return paths


def _coding(rng: random.Random, system: str) -> dict:
    code = str(rng.randrange(100000, 999999))
    return {"system": system, "code": code, "display": f"concept {code}"}


def fhir_drop(seed: int, n_patients: int) -> FhirDrop:
    """About 32 Specimens and 50 DocumentReferences per Patient, a few
    Groups (one spanning several patients), document subjects drawn from
    Group, Specimen and Patient, and ~20 rows of each transform-only type.
    EMPTY_GROUPS groups have no Specimen member, so the assay guard drops
    them and they stay Groups; every other Group has at least one existing
    Specimen member, and documents only point at those, so the reference's
    clean-path invariants hold exactly."""
    rng = random.Random(f"fhir:{seed}")
    patients, specimens, groups, docs = [], [], [], []
    spec_by_patient: dict[str, list[str]] = {}
    spec_patient: dict[str, str] = {}
    for i in range(n_patients):
        pid = f"pat-{i:05d}"
        born = dt.date(1940, 1, 1) + dt.timedelta(days=rng.randrange(70 * 365))
        patients.append({
            "resourceType": "Patient", "id": pid, "gender": rng.choice(GENDERS),
            "birthDate": born.isoformat(),
            "name": [{"family": rng.choice(FAMILIES), "given": [f"G{rng.randrange(1000)}"]}],
        })
        spec_by_patient[pid] = []
        for _ in range(rng.randint(28, 36)):
            sid = f"spc-{len(specimens):06d}"
            spec = {"resourceType": "Specimen", "id": sid, "subject": {"reference": f"Patient/{pid}"}}
            if rng.random() < 0.7:
                spec["processing"] = [{"method": {"coding": [_coding(rng, "http://snomed.info/sct")]}}]
            if rng.random() < 0.7:
                spec["collection"] = {
                    "procedure": {"reference": f"Procedure/prc-{rng.randrange(10**6)}"},
                    "collectedDateTime": f"20{rng.randrange(10, 24)}-0{rng.randrange(1, 10)}-1{rng.randrange(10)}",
                }
            specimens.append(spec)
            spec_by_patient[pid].append(sid)
            spec_patient[sid] = pid

    pids = [p["id"] for p in patients]
    group_patient: dict[str, str] = {}
    # ~16 groups at the reference scale of 537 patients (FIXTURES.md §2)
    for g in range(max(4, n_patients // 32)):
        gid = f"grp-{g:04d}"
        # group 0 spans several patients: the last existing specimen
        # member decides its patient (assay.py:63-69)
        owners = rng.sample(pids, min(3, len(pids))) if g == 0 else [rng.choice(pids)]
        members = []
        for owner in owners:
            for sid in rng.sample(spec_by_patient[owner], rng.randint(1, 3)):
                members.append({"entity": {"reference": f"Specimen/{sid}"}})
        if rng.random() < 0.5:
            members.insert(rng.randrange(len(members) + 1), {"entity": {"reference": f"Patient/{owners[0]}"}})
        if rng.random() < 0.3:
            members.append({"entity": {}})
        last_spec = [m for m in members if m["entity"].get("reference", "").startswith("Specimen/")][-1]
        group_patient[gid] = spec_patient[last_spec["entity"]["reference"].split("/")[1]]
        groups.append({
            "resourceType": "Group", "id": gid, "member": members,
            "membership": "definitional", "type": "specimen",
        })

    empty_groups = [
        {
            "resourceType": "Group", "id": f"grp-e{g:03d}",
            "member": [{"entity": {"reference": f"Patient/{rng.choice(pids)}"}}, {"entity": {}}],
            "membership": "definitional", "type": "specimen",
        }
        for g in range(EMPTY_GROUPS)
    ]

    expected_subject: dict[str, str] = {}
    extensionless: set[str] = set()
    assay_ids = {g["id"] for g in groups}
    for pid in pids:
        for _ in range(rng.randint(45, 55)):
            did = f"doc-{len(docs):07d}"
            ext = rng.choice(EXTENSIONS)
            r = rng.random()
            if r < 0.08:
                gid = rng.choice(groups)["id"]
                subject, bound_to = f"Group/{gid}", group_patient[gid]
            elif r < 0.16:
                sid = rng.choice(spec_by_patient[pid])
                subject, bound_to = f"Specimen/{sid}", pid
                assay_ids.add(str(uuid.uuid5(uuid.NAMESPACE_DNS, did + "-assay")))
            else:
                subject, bound_to = f"Patient/{pid}", None
            if bound_to is None:
                content_type = "text/plain"
            else:
                # the rewrite must replace missing and vcard types
                content_type = rng.choice((None, "text/vcard", "text/plain"))
                expected_subject[did] = f"Patient/{bound_to}"
                if ext == "":
                    extensionless.add(did)
            attachment = {
                "url": f"https://data.example.org/project-{seed}/{did}{ext}",
                "title": f"file-{did}{ext}",
                "size": rng.choice((rng.randrange(1, 10**6), rng.randrange(2**31, 2**34))),
            }
            if content_type is not None:
                attachment["contentType"] = content_type
            doc = {
                "resourceType": "DocumentReference", "id": did, "version": "1",
                "status": rng.choice(DOC_STATUSES), "subject": {"reference": subject},
                "content": [{
                    "attachment": attachment,
                    "profile": [{"valueCoding": _coding(rng, "http://fhir.example.org/format")}],
                }],
            }
            if rng.random() < 0.3:
                doc["basedOn"] = [{"reference": f"ServiceRequest/req-{rng.randrange(10**6)}"}]
            if rng.random() < 0.3:
                doc["context"] = {"related": [{"reference": f"Task/tsk-{rng.randrange(10**6)}"}]}
            docs.append(doc)

    resources = {
        "Patient": patients, "Specimen": specimens, "Group": groups + empty_groups,
        "DocumentReference": docs,
    }
    resources.update(_transform_only(rng))
    counts = {t: len(rows) for t, rows in resources.items()}
    counts["Group"] = len(empty_groups)
    counts["ServiceRequest"] = len(assay_ids)
    doc_ids = [d["id"] for d in docs]
    n_delta = max(2, len(docs) // 20)
    update_ids = sorted(rng.sample(doc_ids, n_delta))
    new_copy_ids = update_ids[: max(1, n_delta // 5)]
    return FhirDrop(
        resources=resources, expected_counts=counts, empty_group_ids={g["id"] for g in empty_groups},
        expected_assay_ids=assay_ids,
        expected_subject=expected_subject, extensionless_bound_docs=extensionless,
        update_ids=update_ids, new_copy_ids=new_copy_ids,
    )


def _transform_only(rng: random.Random, n: int = 20) -> dict[str, list[dict]]:
    """~20 rows per transform-only type, carrying the fields each
    transformer touches (FIXTURES.md §5)."""
    out: dict[str, list[dict]] = {t: [] for t in TRANSFORM_ONLY}
    for i in range(n):
        out["BodyStructure"].append({
            "resourceType": "BodyStructure", "id": f"bst-{i:03d}",
            "includedStructure": [{"structure": {"reference": f"BodySite/bs-{rng.randrange(100)}"}}],
        })
        enc = {"resourceType": "Encounter", "id": f"enc-{i:03d}", "status": "in-progress",
               "reason": [{"reference": f"Condition/c-{rng.randrange(100)}"}]}
        if rng.random() < 0.5:
            enc["class"] = {"coding": [{"code": "AMB", "display": "ambulatory"}]}
        out["Encounter"].append(enc)
        out["ImagingStudy"].append({
            "resourceType": "ImagingStudy", "id": f"img-{i:03d}",
            "basedOn": [{"reference": f"ServiceRequest/req-{rng.randrange(100)}"}],
            "series": [{"modality": {"coding": [{"system": "http://dicom. nema.org", "code": "CT"}]}}],
        })
        med = {"resourceType": "MedicationAdministration", "id": f"med-{i:03d}",
               "occurenceDateTime": "2023-05-01T10:00:00Z",
               "category": [{"coding": [{"system": "http://terminology.example.org"}]}]}
        if rng.random() < 0.5:
            med["medication"] = {"concept": {"coding": [{"system": "'http://rxnorm'", "code": "123"}]}}
        else:
            med["medication"] = {"reference": {"reference": f"Medication/m-{rng.randrange(100)}"}}
        out["MedicationAdministration"].append(med)
        out["ResearchStudy"].append({"resourceType": "ResearchStudy", "id": f"rst-{i:03d}",
                                     "name": f"study {i}", "title": f"Study {rng.randrange(1000)}"})
        out["ResearchSubject"].append({
            "resourceType": "ResearchSubject", "id": f"rsu-{i:03d}", "status": "candidate",
            "subject": {"reference": f"Patient/pat-{rng.randrange(1000):05d}"},
        })
    return out


# ------------------------------------------------------------- corpus --

STOPWORDS = {
    "en": ("the", "and", "of", "to", "is", "that", "in", "it", "for", "with"),
    "de": ("der", "die", "das", "und", "nicht", "ist", "mit", "ein", "auf", "sich"),
    "es": ("el", "la", "los", "que", "de", "es", "por", "una", "con", "las"),
    "fr": ("le", "la", "les", "et", "est", "que", "une", "pour", "dans", "pas"),
}


@dataclass
class Corpus:
    rows: list[tuple[str, str, str, list[float]]]  # (id, lang, text, vec)
    exact_pairs: list[tuple[str, str]]  # (original, byte-identical copy)
    near_pairs: list[tuple[str, str]]  # (original, edited copy), id order
    dim: int

    def write_parquet(self, path: Path) -> str:
        import pyarrow as pa
        import pyarrow.parquet as pq

        ids, langs, texts, vecs = zip(*self.rows)
        table = pa.table({
            "id": list(ids), "lang": list(langs), "text": list(texts),
            "vec": pa.array(list(vecs), type=pa.list_(pa.float64())),
        })
        path.parent.mkdir(parents=True, exist_ok=True)
        pq.write_table(table, str(path))
        return str(path)


def _unit(v: list[float]) -> list[float]:
    n = sum(x * x for x in v) ** 0.5
    return [x / n for x in v]


def corpus(seed: int, n_base: int, n_exact: int, n_near: int, dim: int = 32,
           edits: int = 2) -> Corpus:
    """A four-language corpus of distinct documents plus planted exact
    copies and near-duplicates (``edits`` words replaced). A near-dup's
    embedding is its original's plus a small perturbation, so the
    embedding stage can find the same pairs."""
    rng = random.Random(f"corpus:{seed}")
    letters = "bcdfghklmnprstvz"
    vowels = "aeiou"
    vocab = {
        lang: [
            "".join(rng.choice(letters) + rng.choice(vowels) for _ in range(rng.randint(2, 4)))
            for _ in range(3000)
        ]
        for lang in STOPWORDS
    }
    texts: list[tuple[str, list[str]]] = []
    seen: set[str] = set()
    while len(texts) < n_base:
        lang = rng.choice(sorted(STOPWORDS))
        words = [
            rng.choice(STOPWORDS[lang]) if rng.random() < 0.3 else rng.choice(vocab[lang])
            for _ in range(rng.randint(50, 90))
        ]
        text = " ".join(words)
        if text not in seen:
            seen.add(text)
            texts.append((lang, words))
    vecs = [_unit([rng.gauss(0, 1) for _ in range(dim)]) for _ in texts]

    docs: list[tuple[str, list[str], list[float]]] = [(lang, w, v) for (lang, w), v in zip(texts, vecs)]
    sources = rng.sample(range(n_base), n_exact + n_near)
    copies: list[tuple[int, str, list[str], list[float]]] = []  # (source index, kind, words, vec)
    for k, src in enumerate(sources):
        lang, words, vec = docs[src]
        if k < n_exact:
            copies.append((src, "exact", list(words), list(vec)))
        else:
            edited = list(words)
            for pos in rng.sample(range(len(edited)), edits):
                edited[pos] = rng.choice(vocab[lang])
            noisy = _unit([x + rng.gauss(0, 2e-3) for x in vec])
            copies.append((src, "near", edited, noisy))

    # shuffled ids, so copies are not adjacent to their originals
    total = n_base + len(copies)
    ids = [f"txt-{i:06d}" for i in rng.sample(range(total), total)]
    rows = [(ids[i], lang, " ".join(w), v) for i, (lang, w, v) in enumerate(docs)]
    exact_pairs, near_pairs = [], []
    for j, (src, kind, words, vec) in enumerate(copies):
        cid = ids[n_base + j]
        rows.append((cid, docs[src][0], " ".join(words), vec))
        pair = (ids[src], cid)
        (exact_pairs if kind == "exact" else near_pairs).append(
            pair if kind == "exact" else tuple(sorted(pair))
        )
    rows.sort()
    return Corpus(rows=rows, exact_pairs=exact_pairs, near_pairs=near_pairs, dim=dim)


# ------------------------------------------------------------- events --

EVENT_STATES = ("home", "search", "product", "cart", "checkout", "help", "account", "exit")
GAP_US = 30 * 60 * 1_000_000
EPOCH_US = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp()) * 1_000_000


@dataclass
class EventStream:
    """Time-ordered micro-batches of (user_id, ts_us, event_type).
    Each batch covers the next hour of event time and per-user
    timestamps are unique, so the transition multiset is exact."""

    batches: list[list[tuple[str, int, str]]]

    def write_parquet(self, directory: Path) -> list[str]:
        import pyarrow as pa
        import pyarrow.parquet as pq

        directory.mkdir(parents=True, exist_ok=True)
        paths = []
        for b, rows in enumerate(self.batches):
            users, ts, states = zip(*rows)
            table = pa.table({
                "user_id": list(users),
                "ts": pa.array(list(ts), type=pa.timestamp("us", tz="UTC")),
                "event_type": list(states),
            })
            p = directory / f"batch-{b:04d}.parquet"
            pq.write_table(table, str(p))
            paths.append(str(p))
        return paths


def events(seed: int, n_users: int, n_batches: int, per_batch: int) -> EventStream:
    rng = random.Random(f"events:{seed}")
    users = [f"u{i:05d}" for i in range(n_users)]
    batches = []
    for b in range(n_batches):
        base = EPOCH_US + b * 3600 * 1_000_000
        taken: set[tuple[str, int]] = set()
        rows = []
        while len(rows) < per_batch:
            u = rng.choice(users)
            ts = base + rng.randrange(3600) * 1_000_000
            if (u, ts) in taken:
                continue
            taken.add((u, ts))
            rows.append((u, ts, rng.choice(EVENT_STATES)))
        rows.sort(key=lambda r: (r[1], r[0]))
        batches.append(rows)
    return EventStream(batches)


@dataclass
class FlowModel:
    """Incremental Python twin of ``analytics.session_flows``: per-user
    last event plus global (src, dst) transition counts."""

    last: dict[str, tuple[int, str]] = field(default_factory=dict)
    counts: dict[tuple[str, str], int] = field(default_factory=dict)

    def feed(self, rows: list[tuple[str, int, str]]) -> None:
        for u, us, st in sorted(rows):
            prev = self.last.get(u)
            if prev is not None and us - prev[0] <= GAP_US:
                key = (prev[1], st)
                self.counts[key] = self.counts.get(key, 0) + 1
            self.last[u] = (us, st)

    def matrix(self) -> dict[tuple[str, str], tuple[int, float]]:
        totals: dict[str, int] = {}
        for (src, _), n in self.counts.items():
            totals[src] = totals.get(src, 0) + n
        return {k: (n, n / totals[k[0]]) for k, n in self.counts.items()}
