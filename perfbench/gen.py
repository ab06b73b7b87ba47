"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed and size arguments and
returns, next to the files or rows it makes, the bookkeeping the output
checks compare against (expected per-index counts, duplicate groups,
re-sent ids). The program under test only ever sees the generated
files or rows.
"""

from __future__ import annotations

import csv
import gzip
import json
import os
import random
from dataclasses import dataclass, field

# --- estate raw lake -------------------------------------------------

DVF_HEADER = [
    "id_mutation", "date_mutation", "nature_mutation", "valeur_fonciere",
    "code_commune", "nom_commune", "code_postal", "type_local",
    "surface_reelle_bati", "nombre_pieces_principales", "latitude",
    "longitude",
]

# Input properties the estate workloads depend on (summarised in the
# workload notes of BENCHMARK.json): the Paris share drives market_stats and the
# gov-dvf-paris fan-out, the out-of-range and null shares drive both
# quality filters, the re-scrape share drives the keep-last dedup.
ESTATE_RATES = {
    "paris_share": 0.25,
    "low_department_share": 0.15,
    "valeur_null": 0.05,
    "valeur_below_5000": 0.04,
    "valeur_above_5e7": 0.01,
    "surface_null": 0.05,
    "surface_out_of_range": 0.04,
    "latlng_null": 0.10,
    "date_unparseable": 0.01,
    "lbc_rescrape": 0.10,
    "lbc_location_na": 0.05,
    "lbc_zip_is_insee": 0.30,
}

_TYPES = ["Appartement", "Maison", "Dépendance",
          "Local industriel. commercial ou assimilé", ""]
_TYPE_W = [0.45, 0.35, 0.1, 0.05, 0.05]
# Exact boundary values of both DVF filters (strict > in market_stats,
# inclusive-reject bounds in the index quality gate).
_VALEUR_EDGES = [999.0, 1000.0, 4999.0, 5000.0, 5e7, 5e7 + 1]
_SURFACE_EDGES = [9.0, 10.0, 10000.0, 10001.0]
# The one LBC run day the raw lake holds.
RUN_DAY = "20250115"
_WORDS = ["maison", "appartement", "studio", "loft", "jardin", "terrasse",
          "centre", "calme", "lumineux", "renove", "parking", "balcon",
          "vue", "duplex", "cave", "ascenseur"]


@dataclass
class EstateLake:
    root: str
    input_bytes: int
    raw_ads: int
    expected: dict[str, int] = field(default_factory=dict)


def _quality_ok(t, v, s, lat, lng) -> bool:
    return (
        t in ("Appartement", "Maison")
        and v is not None and 5000.0 <= v <= 5e7
        and s is not None and 9.0 <= s <= 10000.0
        and lat is not None and lng is not None
    )


def _market_ok(code, v, s) -> bool:
    return (
        code.startswith("75") and v is not None
        and s is not None and s > 9.0 and v > 1000.0
    )


def make_estate_lake(
    root: str, seed: int, dvf_rows: int, lbc_files: int, ads_per_file: int,
) -> EstateLake:
    """Write ``raw/gov/dvf_full.csv.gz`` and the ``RUN_DAY`` LBC
    JSON-array files under ``root``; return the expected per-index
    document counts of ``pipeline.run_pipeline``."""
    rnd = random.Random(seed)
    r = ESTATE_RATES
    gov = os.path.join(root, "raw", "gov")
    os.makedirs(gov, exist_ok=True)
    n_quality = n_paris = 0
    market_codes: set[str] = set()
    dvf_path = os.path.join(gov, "dvf_full.csv.gz")
    with gzip.open(dvf_path, "wt", newline="", compresslevel=6) as f:
        w = csv.writer(f)
        w.writerow(DVF_HEADER)
        for i in range(dvf_rows):
            u = rnd.random()
            if u < r["paris_share"]:
                arr = rnd.randint(1, 20)
                code, cp, city = f"751{arr:02d}", f"750{arr:02d}", f"Paris {arr}"
                lat0, lng0 = 48.8566, 2.3522
            elif u < r["paris_share"] + r["low_department_share"]:
                d = rnd.randint(1, 9)
                code = f"0{d}{rnd.randint(1, 999):03d}"
                cp, city = f"0{d}{rnd.randint(0, 9)}00", f"Commune {code}"
                lat0, lng0 = 46.0, 5.0
            else:
                d = rnd.randint(10, 95)
                code = f"{d}{rnd.randint(1, 999):03d}"
                cp, city = f"{d}{rnd.randint(0, 9)}00", f"Commune {code}"
                lat0, lng0 = 41.5 + (d % 10) * 0.9, -4.0 + (d % 13) * 1.0
            u = rnd.random()
            if u < r["valeur_null"]:
                v = None
            elif u < r["valeur_null"] + 0.01:
                v = rnd.choice(_VALEUR_EDGES)
            elif u < r["valeur_null"] + r["valeur_below_5000"]:
                v = float(rnd.randint(1, 4999))
            elif u < r["valeur_null"] + r["valeur_below_5000"] + r["valeur_above_5e7"]:
                v = float(rnd.randint(50_000_001, 90_000_000))
            else:
                v = round(rnd.lognormvariate(12.3, 0.8), 2)
            u = rnd.random()
            if u < r["surface_null"]:
                s = None
            elif u < r["surface_null"] + r["surface_out_of_range"]:
                s = rnd.choice(_SURFACE_EDGES + [float(rnd.randint(1, 8)),
                                                 float(rnd.randint(10002, 20000))])
            else:
                s = float(rnd.randint(10, 250))
            t = rnd.choices(_TYPES, _TYPE_W)[0]
            if rnd.random() < r["latlng_null"]:
                lat = lng = None
            else:
                lat = round(lat0 + rnd.uniform(-0.15, 0.15), 6)
                lng = round(lng0 + rnd.uniform(-0.2, 0.2), 6)
            date = (
                "not-a-date" if rnd.random() < r["date_unparseable"]
                else f"2025-{rnd.randint(1, 12):02d}-{rnd.randint(1, 28):02d} "
                f"{rnd.randint(0, 23):02d}:{rnd.randint(0, 59):02d}:00"
            )
            rooms = "" if rnd.random() < 0.05 else str(rnd.randint(0, 8))
            w.writerow([
                f"2025-{i:07d}", date, "Vente", "" if v is None else repr(v),
                code, city, cp, t, "" if s is None else repr(s), rooms,
                "" if lat is None else repr(lat), "" if lng is None else repr(lng),
            ])
            if _quality_ok(t or None, v, s, lat, lng):
                n_quality += 1
                n_paris += code.startswith("75")
            if _market_ok(code, v, s):
                market_codes.add(code)

    lbc_dir = os.path.join(root, "raw", "leboncoin", "annonces", RUN_DAY)
    os.makedirs(lbc_dir, exist_ok=True)
    seen: list[int] = []
    next_id = 1
    for fi in range(lbc_files):
        ads = []
        for _ in range(ads_per_file):
            if seen and rnd.random() < r["lbc_rescrape"]:
                ad_id = rnd.choice(seen)
            else:
                ad_id = next_id
                next_id += 1
                seen.append(ad_id)
            ads.append(_ad(rnd, ad_id, fi))
        # file names sort in fetch order: the keep-last dedup relies on it
        with open(os.path.join(lbc_dir, f"annonces_{fi:06d}.json"), "w") as f:
            json.dump(ads, f)
    n_ads = len(seen)
    return EstateLake(
        root=root, input_bytes=tree_stats(os.path.join(root, "raw"))[0],
        raw_ads=lbc_files * ads_per_file,
        expected={
            "usage-opportunities": n_ads,
            "usage-market-stats": len(market_codes),
            "gov-dvf": n_quality,
            "gov-dvf-paris": n_paris,
            "lbc-annonces": n_ads,
        },
    )


def _ad(rnd: random.Random, ad_id: int, file_no: int) -> dict:
    if rnd.random() < ESTATE_RATES["lbc_location_na"]:
        loc: object = "N/A"
    else:
        arr = rnd.randint(1, 20)
        zip_code = (
            f"751{arr:02d}" if rnd.random() < ESTATE_RATES["lbc_zip_is_insee"]
            else f"750{arr:02d}"
        )
        loc = {"city": "Paris", "zipcode": zip_code,
               "lat": round(48.8566 + rnd.uniform(-0.08, 0.08), 6),
               "lng": round(2.3522 + rnd.uniform(-0.12, 0.12), 6)}
    u = rnd.random()
    price = None if u < 0.03 else ([] if u < 0.05 else [rnd.randint(5_000_000, 150_000_000)])
    return {
        "list_id": ad_id,
        "subject": " ".join(rnd.sample(_WORDS, rnd.randint(2, 5))),
        "price_cents": price,
        "date": (
            "bad-date" if rnd.random() < 0.02
            else f"2025-01-15 {file_no % 24:02d}:{rnd.randint(0, 59):02d}:00"
        ),
        "location": loc,
        "attributes": [{"key": "seg", "value": rnd.choice(["pro", "private"])},
                       {"key": "rooms", "value": str(rnd.randint(1, 6))}],
    }


def file_sizes(path: str) -> dict[str, int]:
    """Size of every file under ``path``, by file path."""
    out = {}
    for dirpath, _, files in os.walk(path):
        for fn in files:
            p = os.path.join(dirpath, fn)
            out[p] = os.path.getsize(p)
    return out


def tree_stats(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``; Spark's ``_SUCCESS`` markers
    and ``.crc`` checksums are not data files but their bytes count."""
    sizes = file_sizes(path)
    nfiles = sum(not os.path.basename(p).startswith((".", "_")) for p in sizes)
    return sum(sizes.values()), nfiles


# --- corpus ----------------------------------------------------------

# Corpus properties the corpus build and ingest depend on (summarised in
# the workload notes of BENCHMARK.json). Exact duplicates are byte-identical copies under
# a new id; near duplicates replace a few words of an earlier doc.
CORPUS_RATES = {
    "exact_dup": 0.08,
    "near_dup": 0.07,
    "near_dup_word_edit": 0.05,
    "lang_mix": {"en": 0.4, "fr": 0.2, "de": 0.15, "es": 0.15, "zh": 0.1},
    "length_words": {"short_20_40": 0.3, "medium_50_120": 0.5, "long_200_400": 0.2},
}
_SYL = ["ka", "lo", "mi", "ne", "ru", "sa", "te", "vo", "za", "pe", "di",
        "fo", "gu", "ha", "ji", "be", "co", "la", "mu", "ri", "so", "ta"]


def _vocab(rnd: random.Random, n: int) -> list[str]:
    words = set()
    while len(words) < n:
        words.add("".join(rnd.choice(_SYL) for _ in range(rnd.randint(2, 4))))
    return sorted(words)


@dataclass
class Corpus:
    rows: list[tuple[int, str, str, str, int]]  # doc_id, text, lang, source, n_chars
    exact_groups: dict[str, list[int]]          # text -> ids, groups of size >= 2
    near_dup_of: dict[int, int]                 # near-dup id -> original id


def _text(rnd: random.Random, vocab: list[str]) -> str:
    u = rnd.random()
    n = (rnd.randint(20, 40) if u < 0.3
         else rnd.randint(50, 120) if u < 0.8 else rnd.randint(200, 400))
    words = [rnd.choice(vocab) for _ in range(n)]
    out, i = [], 0
    while i < n:
        k = rnd.randint(6, 14)
        sent = words[i:i + k]
        out.append(sent[0].capitalize() + " " + " ".join(sent[1:]) + ".")
        i += k
    return " ".join(out)


def make_corpus(seed: int, n_docs: int) -> Corpus:
    """``n_docs`` rows with the columns of the sf ``documents`` table.
    Duplicates always copy an earlier row, so any prefix of the list is
    itself a valid corpus."""
    rnd = random.Random(seed)
    langs = list(CORPUS_RATES["lang_mix"])
    lw = list(CORPUS_RATES["lang_mix"].values())
    vocab = {lang: _vocab(random.Random(f"{seed}:{lang}"), 2500) for lang in langs}
    rows: list[tuple[int, str, str, str, int]] = []
    by_text: dict[str, list[int]] = {}
    near: dict[int, int] = {}
    for doc_id in range(n_docs):
        u = rnd.random()
        if rows and u < CORPUS_RATES["exact_dup"]:
            src = rows[rnd.randrange(len(rows))]
            text, lang = src[1], src[2]
        elif rows and u < CORPUS_RATES["exact_dup"] + CORPUS_RATES["near_dup"]:
            src = rows[rnd.randrange(len(rows))]
            lang = src[2]
            words = src[1].split(" ")
            for _ in range(max(1, int(len(words) * CORPUS_RATES["near_dup_word_edit"]))):
                j = rnd.randrange(len(words))
                dot = "." if words[j].endswith(".") else ""
                words[j] = rnd.choice(vocab[lang]) + dot
            text = " ".join(words)
            near[doc_id] = src[0]
        else:
            lang = rnd.choices(langs, lw)[0]
            text = _text(rnd, vocab[lang])
        rows.append((doc_id, text, lang, f"src{rnd.randrange(10)}", len(text)))
        by_text.setdefault(text, []).append(doc_id)
    groups = {t: ids for t, ids in by_text.items() if len(ids) > 1}
    return Corpus(rows=rows, exact_groups=groups, near_dup_of=near)


@dataclass
class IngestBatch:
    rows: list[tuple[int, str, str, str, int]]
    resent_ids: set[int]   # ids already offered in an earlier batch


# Share of each ingest batch that re-sends an earlier batch's doc
# verbatim (same id, same text): the exact/id guards must refuse them.
INGEST_RESEND = 0.10


def split_batches(corpus: Corpus, batch_docs: int, seed: int) -> list[IngestBatch]:
    """Cut the corpus into arrival batches. The corpus's own exact and
    near duplicates make some docs duplicates of history; on top of
    that each batch after the first re-sends ``INGEST_RESEND`` of its
    size from earlier batches."""
    rnd = random.Random(seed + 7919)
    batches: list[IngestBatch] = []
    offered: list[tuple[int, str, str, str, int]] = []
    fresh = corpus.rows
    n_resend = int(batch_docs * INGEST_RESEND)
    i = 0
    while i < len(fresh):
        take = fresh[i:i + batch_docs - (n_resend if batches else 0)]
        i += len(take)
        resent = rnd.sample(offered, min(n_resend, len(offered))) if batches else []
        batches.append(IngestBatch(rows=list(take) + resent,
                                   resent_ids={r[0] for r in resent}))
        offered.extend(take)
    return batches
