"""Seeded input generators for the benchmark.

Everything here is plain Python driven by ``random.Random(seed)``: the
same seed gives byte-identical inputs, a different seed different ones.
The engine only ever sees what these functions produce. Sizes and
shares are module constants so they are stated in one place (the
README repeats them) and are the same for every seed.
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field

# --- warehouse_serving inputs ------------------------------------------------

N_STUDENTS = 4000  # documents in the initial warehouse corpus
REJECT_SHARE = 0.10  # documents without the NRP anchor (reject path)
N_REFRESHES = 8  # refresh batches generated per seed (a run uses a prefix)
REFRESH_DOCS = 100  # documents per refresh batch
REDELIVER_SHARE = 0.20  # share of a refresh batch re-delivering loaded docs
REVERSED_SHARE = 0.25  # refresh PDFs re-emitted with reversed object order

GRADE_WEIGHTS = {"A": 4.0, "AB": 3.5, "B": 3.0, "BC": 2.5, "C": 2.0, "D": 1.0, "E": 0.0}
GRADES = list(GRADE_WEIGHTS)
COURSES = [
    (f"{dept}{200000 + 1013 * i:06d}", f"Mata Kuliah {name}", 2 + i % 3)
    for i, (dept, name) in enumerate(
        zip(
            ["ES", "EE", "SM", "IF", "KM", "TI"] * 4,
            [
                "Kalkulus", "Fisika", "Kimia", "Basis Data", "Struktur Data",
                "Statistika", "Aljabar", "Pemrograman", "Jaringan", "Proyek",
                "Logika", "Sistem Operasi", "Grafika", "Kecerdasan", "Keamanan",
                "Kompiler", "Etika", "Bahasa", "Desain", "Manajemen",
                "Optimasi", "Simulasi", "Riset", "Seminar",
            ],
        )
    )
]
SKS = {kode: sks for kode, _, sks in COURSES}
TERMS = [(2020 + i // 2, "Gs" if i % 2 == 0 else "Gn") for i in range(8)]
SECTIONS = ["A", "B", "AB", ""]


def nrp_of(i: int) -> str:
    """Unique 10-digit NRP per student index; digits 8-10 are the serial
    the admission-path insights bin on (001-232)."""
    block, serial = divmod(i, 232)
    return f"50{10 + block % 90:02d}{20 + (block // 90) % 10:02d}1{serial + 1:03d}"


@dataclass
class Transcript:
    doc_id: str
    text: str
    nrp: str | None  # None: rejected document
    courses: list[tuple[str, int, str, str, str]] = field(default_factory=list)
    # (kode_mk, tahun, semester-code, grade, tahap) per fact row
    attrs: dict = field(default_factory=dict)  # the student's dim row


def _transcript(rng: random.Random, i: int) -> Transcript:
    n_terms = rng.randint(1, len(TERMS))
    start = rng.randint(0, len(TERMS) - n_terms)
    lines = {"Persiapan": [], "Sarjana": []}
    courses = []
    for t, (tahun, code) in enumerate(TERMS[start : start + n_terms]):
        tahap = "Sarjana" if t >= n_terms // 2 and n_terms > 1 else "Persiapan"
        for kode, nama, sks in rng.sample(COURSES, rng.randint(3, 6)):
            grade = rng.choice(GRADES)
            lines[tahap].append(f"{kode} {nama} {sks} {tahun}/{code}/{rng.choice(SECTIONS)} {grade}")
            courses.append((kode, tahun, code, grade, tahap))
    sks_tempuh = sum(SKS[c[0]] for c in courses)
    a = {
        "nrp": nrp_of(i),
        "nama": f"Mahasiswa {i}",
        "status": rng.choice(["Aktif", "Cuti", "Lulus"]),
        "ipk": rng.randint(150, 400) / 100,
        "sks_persiapan": rng.randint(18, 40),
        "ip_persiapan": rng.randint(100, 400) / 100,
        "sks_sarjana": rng.randint(20, 90) if lines["Sarjana"] else 0,
        "ip_sarjana": rng.randint(100, 400) / 100 if lines["Sarjana"] else 0.0,
        "sks_tempuh": sks_tempuh,
        "sks_lulus": sks_tempuh - rng.randint(0, 6),
    }
    parts = [
        f"NRP / Nama {a['nrp']} / {a['nama']} SKS Tempuh / SKS Lulus {a['sks_tempuh']} / {a['sks_lulus']}",
        f"IPK {a['ipk']:.2f}",
        f"Status {a['status']} ---",
        "Tahap: Persiapan",
        f"Total Sks Tahap Persiapan : {a['sks_persiapan']}",
        f"IP Tahap Persiapan : {a['ip_persiapan']:.2f}",
        *lines["Persiapan"],
    ]
    if lines["Sarjana"]:
        parts += [
            "Tahap: Sarjana",
            f"total sks tahap sarjana : {a['sks_sarjana']}",
            f"IP Tahap Sarjana : {a['ip_sarjana']:.2f}",
            *lines["Sarjana"],
        ]
    return Transcript(f"doc_{i:06d}", "\n".join(parts), a["nrp"], courses, a)


def _rejected(rng: random.Random, i: int) -> Transcript:
    return Transcript(
        f"doc_{i:06d}",
        f"Halaman transkrip rusak {rng.randint(0, 10**6)}\nIPK 3.00\nTidak ada anchor",
        None,
    )


def _draw(rng: random.Random, i: int) -> Transcript:
    return _rejected(rng, i) if rng.random() < REJECT_SHARE else _transcript(rng, i)


@dataclass
class TranscriptInputs:
    base: list[Transcript]  # the initial warehouse corpus
    refreshes: list[list[Transcript]]  # refresh batches, in delivery order
    reversed_ids: set[str]  # refresh docs whose PDF is object-reversed


def transcripts(seed: int) -> TranscriptInputs:
    rng = random.Random(seed)
    base = [_draw(rng, i) for i in range(N_STUDENTS)]
    delivered, seen = list(base), {d.doc_id for d in base}
    refreshes, nxt = [], N_STUDENTS
    n_redeliver = round(REFRESH_DOCS * REDELIVER_SHARE)
    for _ in range(N_REFRESHES):
        batch = rng.sample(delivered, n_redeliver)
        for _ in range(REFRESH_DOCS - n_redeliver):
            batch.append(_draw(rng, nxt))
            nxt += 1
        rng.shuffle(batch)
        delivered += [d for d in batch if d.doc_id not in seen]
        seen |= {d.doc_id for d in batch}
        refreshes.append(batch)
    everything = sorted({d.doc_id for b in refreshes for d in b})
    n_rev = round(len(everything) * REVERSED_SHARE)
    return TranscriptInputs(base, refreshes, set(rng.sample(everything, n_rev)))


def star_truth(docs: list[Transcript]) -> dict[str, int]:
    """Expected row counts of the star schema built from ``docs``."""
    accepted = {d.nrp: d for d in docs if d.nrp is not None}
    facts = {(d.nrp, *c[:4]) for d in accepted.values() for c in d.courses}
    return {
        "dim_mahasiswa": len(accepted),
        "dim_matakuliah": len({c[0] for d in accepted.values() for c in d.courses}),
        "dim_waktu": len({(c[1], c[2]) for d in accepted.values() for c in d.courses}),
        "dim_nilai": len(GRADES),
        "fact_nilai_mk": len(facts),
    }


def star_tables(docs: list[Transcript]) -> dict[str, dict[str, list]]:
    """The star schema of ``docs`` as column lists, in the engine's table
    layout: surrogate ids numbered in natural-key order, the course dim
    keeping its smallest (nama_mk, sks, tahap) row. The warehouse
    workload starts from these tables, so its set-up loads no data
    through the engine."""
    accepted = sorted((d for d in docs if d.nrp is not None), key=lambda d: d.nrp)
    cols = list(accepted[0].attrs)
    mhs = {c: [d.attrs[c] for d in accepted] for c in cols}
    mhs["id_mahasiswa"] = list(range(1, len(accepted) + 1))
    id_mhs = {d.nrp: i for i, d in enumerate(accepted, 1)}
    names = {k: n for k, n, _ in COURSES}
    course_rows = {}
    for d in accepted:
        for kode, _, _, _, tahap in d.courses:
            row = (names[kode], SKS[kode], tahap)
            course_rows[kode] = min(row, course_rows.get(kode, row))
    kodes = sorted(course_rows)
    mk = {
        "kode_mk": kodes,
        "nama_mk": [course_rows[k][0] for k in kodes],
        "sks": [course_rows[k][1] for k in kodes],
        "tahap": [course_rows[k][2] for k in kodes],
        "id_mk": list(range(1, len(kodes) + 1)),
    }
    id_mk = {k: i for i, k in enumerate(kodes, 1)}
    sem = {"Gs": "Gasal", "Gn": "Genap"}
    terms = sorted({(c[1], sem[c[2]]) for d in accepted for c in d.courses})
    waktu = {"tahun": [t for t, _ in terms], "semester": [s for _, s in terms], "id_waktu": list(range(1, len(terms) + 1))}
    id_waktu = {t: i for i, t in enumerate(terms, 1)}
    nilai = {"id_nilai": list(range(1, len(GRADES) + 1)), "huruf": GRADES, "bobot": [GRADE_WEIGHTS[g] for g in GRADES]}
    fact_cols = ["id_mahasiswa", "id_mk", "id_waktu", "id_nilai", "sks", "bobot", "bobot_matkul", "tahun", "semester"]
    fact = {c: [] for c in fact_cols}
    for d in accepted:
        for kode, tahun, code, grade, _ in d.courses:
            vals = (
                id_mhs[d.nrp], id_mk[kode], id_waktu[(tahun, sem[code])], GRADES.index(grade) + 1,
                SKS[kode], GRADE_WEIGHTS[grade], SKS[kode] * GRADE_WEIGHTS[grade], tahun, sem[code],
            )
            for c, v in zip(fact_cols, vals):
                fact[c].append(v)
    return {"dim_mahasiswa": mhs, "dim_matakuliah": mk, "dim_waktu": waktu, "dim_nilai": nilai, "fact_nilai_mk": fact}


# --- table_lifecycle inputs --------------------------------------------------

N_DOCS = 1000  # documents in the initial table
VOCAB = (
    "a batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table "
    "value vector window agg the index commit log file snapshot delta "
    "version shuffle stage task"
).split()
EXACT_DUP_SHARE = 0.05  # new docs repeating an existing text (case/space varied)
NEAR_DUP_SHARE = 0.10  # new docs copying an existing text with ~10% tokens changed
N_CYCLES = 6  # op cycles generated per seed (a run uses a prefix)
MERGE_ROWS = 60  # rows per merge: half updates of live docs, half inserts
DV_DELETE_ROWS = 12  # scattered deletes per cycle
COW_DELETE_SPAN = 15  # contiguous doc_id span deleted per cycle
SOURCES = [f"src{i}" for i in range(5)]


def _fresh_text(rng: random.Random) -> str:
    return " ".join(rng.choice(VOCAB) for _ in range(rng.randint(10, 80)))


def _doc_text(rng: random.Random, pool: list[str]) -> str:
    r = rng.random()
    if pool and r < EXACT_DUP_SHARE:
        src = rng.choice(pool)
        return rng.choice([src.upper(), f"  {src} ", src])
    if pool and r < EXACT_DUP_SHARE + NEAR_DUP_SHARE:
        toks = rng.choice(pool).split()
        for j in rng.sample(range(len(toks)), max(1, len(toks) // 10)):
            toks[j] = rng.choice(VOCAB)
        return " ".join(toks)
    return _fresh_text(rng)


@dataclass
class TableInputs:
    initial: list[tuple[int, str, str]]  # (doc_id, text, source)
    cycles: list[dict]  # per cycle: merge rows, dv ids, cow range


def table_ops(seed: int) -> TableInputs:
    """The documents table and its op sequence. The op list is fixed at
    generation time against a replay of the same op semantics, so every
    update hits a live row and every delete removes rows."""
    rng = random.Random(seed)
    texts: list[str] = []
    initial = []
    for i in range(N_DOCS):
        t = _doc_text(rng, texts)
        texts.append(t)
        initial.append((i, t, rng.choice(SOURCES)))
    live = {d for d, _, _ in initial}
    nxt = N_DOCS
    cycles = []
    for _ in range(N_CYCLES):
        n_upd = MERGE_ROWS // 2
        upd = [(d, _doc_text(rng, texts), rng.choice(SOURCES)) for d in rng.sample(sorted(live), n_upd)]
        ins = []
        for _ in range(MERGE_ROWS - n_upd):
            t = _doc_text(rng, texts)
            texts.append(t)
            ins.append((nxt, t, rng.choice(SOURCES)))
            nxt += 1
        merge = upd + ins
        live |= {d for d, _, _ in ins}
        dv = rng.sample(sorted(live), DV_DELETE_ROWS)
        live -= set(dv)
        lo = rng.choice(sorted(live))
        live -= set(range(lo, lo + COW_DELETE_SPAN))
        cycles.append({"merge": merge, "dv": dv, "cow": (lo, lo + COW_DELETE_SPAN)})
    return TableInputs(initial, cycles)

