"""Seeded input generators, one per workload.

Every generator is a pure function of ``(seed, size)``: it writes the
workload's input files into a directory and returns a manifest that
states the input sizes and everything the checks need (planted
near-duplicates, exclusions, continuation rows, the 429 schedule).
The same seed gives byte-identical files; zip containers are repacked
with a fixed timestamp so that holds for xlsx/docx too.

Tables use the schemas of the engine's parquet fixtures, so registry
queries and their DuckDB oracles run on them unchanged.
"""

from __future__ import annotations

import hashlib
import io
import json
import os
import random
import shutil
import struct
import zipfile
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Stated input sizes. "full" is what the benchmark measures; "tiny" is
# the size the benchmark's own tests run.
SIZES = {
    "ingest": {
        "full": {"files": ("kazakhstan.xlsx", "kyrgyzstan.pdf"),
                 "rows_per_file": 100, "ocr_share": 0.10, "excluded_share": 0.08,
                 "continuation_share": 0.15, "noise_rows": 4},
        "tiny": {"files": ("belarus.xlsx", "kazakhstan.xlsx", "kyrgyzstan.docx",
                           "kyrgyzstan.pdf"),
                 "rows_per_file": 12, "ocr_share": 0.2, "excluded_share": 0.2,
                 "continuation_share": 0.2, "noise_rows": 1},
    },
    "stream": {
        "full": {"files": 4, "events_per_file": 20000, "docs_per_file": 400,
                 "near_dup_share": 0.2, "reference_events": 20000},
        "tiny": {"files": 2, "events_per_file": 400, "docs_per_file": 20,
                 "near_dup_share": 0.25, "reference_events": 400},
    },
    "curation": {
        "full": {"documents": 500, "near_dup_share": 0.10, "exact_dup_share": 0.02},
        "tiny": {"documents": 60, "near_dup_share": 0.2, "exact_dup_share": 0.05},
    },
}

# Simulated model endpoint: every brand request whose content hash lands
# in the 429 set fails once with a rate-limit error. The generator plants
# exactly one such request per pass (kept constant across seeds).
FAIL_MOD = 97


def fails_first_attempt(content: str) -> bool:
    """The endpoint's 429 schedule, shared with the generator."""
    h = int.from_bytes(hashlib.sha256(content.encode("utf-8")).digest()[:8], "big")
    return h % FAIL_MOD == 0


# ---------------------------------------------------------------------------
# shared helpers

# The fixture corpus vocabulary: lowercase words, single spaces.
VOCAB = (
    "a the data query table row column scan filter join agg group order sort "
    "hash merge window stream batch spark fast slow big small key value part "
    "line customer vector index cache shuffle plan node task stage job file "
    "block page record field schema"
).split()
LANGS = ("de", "en", "es", "fr", "zh")

_ZIP_EPOCH = (1980, 1, 1, 0, 0, 0)


def stable_zip(data: bytes) -> bytes:
    """Repack a zip with fixed entry timestamps (byte-identical output)."""
    out = io.BytesIO()
    with zipfile.ZipFile(io.BytesIO(data)) as src, zipfile.ZipFile(
        out, "w", zipfile.ZIP_DEFLATED
    ) as dst:
        for info in src.infolist():
            fixed = zipfile.ZipInfo(info.filename, date_time=_ZIP_EPOCH)
            fixed.compress_type = zipfile.ZIP_DEFLATED
            dst.writestr(fixed, src.read(info.filename))
    return out.getvalue()


def text_png(text: str, rgb: tuple[int, int, int]) -> bytes:
    """8x8 solid PNG carrying ``text`` in a tEXt chunk (keyword ``Text``).
    The simulated endpoint "reads" the image by returning that chunk."""

    def chunk(tag: bytes, body: bytes) -> bytes:
        return (struct.pack(">I", len(body)) + tag + body
                + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF))

    raw = b"".join(b"\x00" + bytes(rgb) * 8 for _ in range(8))
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 8, 8, 8, 2, 0, 0, 0))
        + chunk(b"tEXt", b"Text\x00" + text.encode("latin-1"))
        + chunk(b"IDAT", zlib.compress(raw, 9))
        + chunk(b"IEND", b"")
    )


def png_text(data: bytes) -> str | None:
    """Inverse of :func:`text_png`: the tEXt ``Text`` value, if any."""
    pos = 8
    while pos + 8 <= len(data):
        (n,) = struct.unpack(">I", data[pos:pos + 4])
        tag, body = data[pos + 4:pos + 8], data[pos + 8:pos + 8 + n]
        if tag == b"tEXt" and body.startswith(b"Text\x00"):
            return body[5:].decode("latin-1")
        pos += 12 + n
    return None


def dir_bytes(path: str) -> int:
    """Bytes of a file, or of every file below a directory."""
    if os.path.isfile(path):
        return os.path.getsize(path)
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def _write_parquet(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def _docs_text(rng: random.Random, n_words: int) -> str:
    return " ".join(rng.choice(VOCAB) for _ in range(n_words))


def _near_copy(rng: random.Random, text: str) -> str:
    """One word of a long document replaced: shingle Jaccard stays high."""
    words = text.split()
    i = rng.randrange(len(words))
    words[i] = rng.choice([w for w in VOCAB if w != words[i]])
    return " ".join(words)


# ---------------------------------------------------------------------------
# ingest: registry files for the three countries

from gov_data_pipeline_spark.country_pipelines import (  # noqa: E402
    BELARUS_BRAND,
    BELARUS_DESC,
    KAZ_BRAND,
    KAZ_DESC,
    KG_BRAND,
    KG_KEY,
)

KAZ_BRAND_SPLIT = KAZ_BRAND.replace("Наименование", "Наименова\nние", 1)
KG_OWNER_RAW = "Правообладате ль"
KG_OWNER = "Правообладатель"
REG_COL = "Рег. номер"
NOTE_COL = "Примечание"
IMAGE_COL = "Изображение"

_LATIN = ("nova", "terra", "lumo", "vexa", "orbi", "kali", "zento", "miro",
          "sola", "brava", "onix", "pera", "tuna", "velo", "qira", "duna")
_CYR = ("обувь", "одежда", "сумки", "часы", "игрушки", "косметика", "посуда",
        "ткани", "очки", "ремни", "перчатки", "шарфы", "кружки", "ручки")
_TAILS = ("плюс", "макс", "люкс", "про", "мини", "классик")


def _brand(rng: random.Random) -> str:
    return " ".join(rng.choice(_LATIN).capitalize() for _ in range(rng.randint(1, 3)))


def _desc(rng: random.Random) -> str:
    return " ".join(rng.choice(_CYR) for _ in range(rng.randint(2, 5)))


def _prompt(brand: str, desc: str | None) -> str:
    """What ``clean_brand_prompt_col`` makes of the generator's clean
    (digit- and punctuation-free, single-spaced) strings."""
    return f"{brand}. Description: {desc}" if desc else brand


def _image_brand(rng: random.Random) -> str:
    return " ".join(rng.choice(_LATIN).upper() for _ in range(2))


def _kinds(rng: random.Random, n: int, shares: dict[str, float], rest: str) -> list[str]:
    """``n`` labels in seeded order with exactly ``round(share * n)`` of
    each kind, so every seed plants the same counts."""
    kinds = [k for k, s in shares.items() for _ in range(round(s * n))]
    kinds += [rest] * (n - len(kinds))
    rng.shuffle(kinds)
    return kinds


def _draw_rows(rng, n, sz, with_desc, want_fail):
    """Row plans for one file. Exactly ``want_fail`` brand prompts fall in
    the endpoint's 429 set; every other prompt falls outside it."""
    kinds = _kinds(rng, n, {"excluded": sz["excluded_share"], "ocr": sz["ocr_share"]},
                   "plain")
    plans = [{"i": i, "kind": kind} for i, kind in enumerate(kinds)]
    fail_slots = set(rng.sample(
        [p["i"] for p in plans if p["kind"] == "plain"], want_fail))
    for p in plans:
        must_fail = p["i"] in fail_slots
        while True:
            desc = _desc(rng) if with_desc else None
            brand = _image_brand(rng) if p["kind"] == "ocr" else _brand(rng)
            prompt = _prompt(brand, desc)
            if p["kind"] == "excluded" or fails_first_attempt(prompt) == must_fail:
                break
        p.update(brand=brand, desc=desc, prompt=prompt)
    return plans


def _expected(plan, brand_out):
    if plan["kind"] == "excluded":
        return {"brand": brand_out, "excluded": "Да", "variants_en": "",
                "variants_ru": ""}
    return {"brand": brand_out, "excluded": "Нет",
            "variants_en": plan["prompt"].upper(),
            "variants_ru": plan["prompt"].lower()}


def _xlsx_registry(rng, sz, header, want_fail, nbsp):
    from gov_data_pipeline_spark.sources.xlsx_zip import write_xlsx

    plans = _draw_rows(rng, sz["rows_per_file"], sz, True, want_fail)
    rows = [header, ["Реестр объектов", "выгрузка", "", ""]]
    images = []
    expected = {}
    for p in plans:
        reg = f"BY{rng.randrange(10**6):06d}x{p['i']}"
        note = "Знак исключен" if p["kind"] == "excluded" else "действует"
        sheet_row = len(rows)
        if p["kind"] == "ocr":
            brand_cell = ""
            images.append((sheet_row, 4, 0, text_png(p["brand"], (
                rng.randrange(256), rng.randrange(256), rng.randrange(256)))))
            brand_out = p["brand"] + " (RECOG)"
        else:
            # kazakhstan's NFKC cleaning folds the no-break spaces back
            brand_cell = p["brand"].replace(" ", "\u00a0") if nbsp else p["brand"]
            brand_cell = f"  {brand_cell} " if p["kind"] == "plain" else brand_cell
            brand_out = p["brand"]
        rows.append([brand_cell, p["desc"], reg, note])
        expected[reg] = _expected(p, brand_out)
    return stable_zip(write_xlsx(rows, images)), plans, expected


def _kg_registry(rng, sz, want_fail):
    plans = _draw_rows(rng, sz["rows_per_file"], sz, False, want_fail)
    rows = [[KG_KEY, KG_BRAND, KG_OWNER_RAW, NOTE_COL], ["1", "2", "3", "4"]]
    expected = {}
    noise_at = set(rng.sample(range(len(plans)), min(sz["noise_rows"], len(plans))))
    # the continuation row joins the brand, so it changes the prompt:
    # rows whose prompt is in the 429 set get none
    mergeable = [p["i"] for p in plans
                 if p["kind"] != "excluded" and not fails_first_attempt(p["prompt"])]
    continued = set(rng.sample(mergeable, round(sz["continuation_share"] * len(plans))))
    for p in plans:
        n = 1000 + p["i"] * 7 + rng.randrange(7)
        form = rng.randrange(3)
        if form == 0:
            raw, key = f"№ {n:05d}/ТЗ", f"{n:05d}/ТЗ"
        elif form == 1:
            s = f"{n:05d}"
            raw, key = f"{s[:2]} {s[2:]} – ТЗ", f"{s}-ТЗ"
        else:
            raw, key = f" {n:05d} ", f"{n:05d}"
        note = "исключен" if p["kind"] == "excluded" else "действует"
        owner = rng.choice(_LATIN).capitalize() + " ООО"
        brand = p["brand"]
        tail = None
        if p["i"] in continued:
            # keep the merged prompt out of the 429 set too
            tail = rng.choice(_TAILS)
            while fails_first_attempt(f"{brand} {tail}"):
                tail = rng.choice(_TAILS) + " " + rng.choice(_TAILS)
            p["prompt"] = f"{brand} {tail}"
        rows.append([raw, f"  {brand}", owner, note])
        if tail is not None:
            rows.append(["", tail, "", ""])
        if p["i"] in noise_at:
            rows.append(["Name: служебная строка", "x", "x", "x"])
        p["kind"] = "excluded" if p["kind"] == "excluded" else "plain"
        expected[key] = _expected(p, p["prompt"] if p["kind"] != "excluded" else brand)
    return rows, plans, expected


def gen_ingest(out_dir: str, seed: int, size: str) -> dict:
    """Registry files for one pass, run one at a time through the
    pipeline: belarus.xlsx and kazakhstan.xlsx (prolog row, embedded PNGs
    for the OCR path), kyrgyzstan.docx / .pdf (continuation rows,
    ``Name:`` noise rows, reg-num variants)."""
    from gov_data_pipeline_spark.sources.docx_zip import write_docx_table
    from gov_data_pipeline_spark.sources.pdf_text import write_simple_pdf

    sz = SIZES["ingest"][size]
    rng = random.Random(seed)
    files = []

    def add(name, country, data, plans, expected):
        with open(os.path.join(out_dir, name), "wb") as fh:
            fh.write(data)
        files.append({
            "name": name, "country": country, "bytes": len(data),
            "records": len(expected),
            "excluded": sum(p["kind"] == "excluded" for p in plans),
            "ocr": sum(p["kind"] == "ocr" for p in plans),
            "requests_429": sum(fails_first_attempt(p["prompt"]) for p in plans
                                if p["kind"] != "excluded"),
            "expected": expected,
        })

    # exactly one request per pass is scheduled to fail, always in the
    # first file, so every seed pays the same retry
    for i, name in enumerate(sz["files"]):
        fail = int(i == 0)
        if name == "belarus.xlsx":
            header = [BELARUS_BRAND, BELARUS_DESC, REG_COL, NOTE_COL]
            add(name, "belarus", *_xlsx_registry(rng, sz, header, fail, nbsp=False))
        elif name == "kazakhstan.xlsx":
            header = [KAZ_BRAND_SPLIT, KAZ_DESC, REG_COL, NOTE_COL]
            add(name, "kazakhstan", *_xlsx_registry(rng, sz, header, fail, nbsp=True))
        else:
            rows, plans, expected = _kg_registry(rng, sz, fail)
            data = (stable_zip(write_docx_table(rows)) if name.endswith(".docx")
                    else write_simple_pdf(rows))
            add(name, "kyrgyzstan", data, plans, expected)
    return {
        "files": files,
        "input_rows": sum(f["records"] for f in files),
        "input_bytes": sum(f["bytes"] for f in files),
        "stated": {
            "rows_per_file": sz["rows_per_file"],
            "ocr_share": sz["ocr_share"],
            "excluded_share": sz["excluded_share"],
            "continuation_share": sz["continuation_share"],
            "noise_rows_per_kg_file": sz["noise_rows"],
            "requests_429_per_pass": sum(f["requests_429"] for f in files),
        },
    }


# ---------------------------------------------------------------------------
# tables with the fixture schemas (events, documents)

EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
_EVENT_SCALE = {"click": 20.0, "error": 5.0, "purchase": 80.0, "signup": 10.0,
                "view": 3.0}


def events_table(rng: np.random.Generator, n: int, first_id: int,
                 t0_us: int, shift: bool = False) -> pa.Table:
    ts = t0_us + np.sort(rng.integers(0, 30 * 86400 * 10**6, n))
    types = rng.choice(len(EVENT_TYPES), n)
    scale = np.array([_EVENT_SCALE[t] for t in EVENT_TYPES])[types]
    value = np.round(rng.exponential(scale) + 0.01, 2)
    if shift:
        value = np.round(value * 5 + 50, 2)
    return pa.table({
        "event_id": pa.array(np.arange(first_id, first_id + n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, n), pa.int64()),
        "event_type": pa.array([EVENT_TYPES[i] for i in types], pa.string()),
        "value": pa.array(value, pa.float64()),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
                          pa.string()),
    })


def documents_table(rng: random.Random, n: int, first_id: int,
                    near_share: float, exact_share: float) -> tuple[pa.Table, dict]:
    """Fixture-shaped documents with planted near and exact duplicates
    of earlier documents and a long-tailed length spread."""
    texts: list[str] = []
    origin: list[int] = []  # -1 = novel, else index of the copied doc
    kinds = _kinds(rng, n, {"exact": exact_share, "near": near_share}, "novel")
    for i, kind in enumerate(kinds):
        long_docs = [j for j in range(i) if origin[j] == -1 and len(texts[j]) > 200]
        if long_docs and kind == "exact":
            j = rng.choice(long_docs)
            texts.append(texts[j])
            origin.append(j)
        elif long_docs and kind == "near":
            j = rng.choice(long_docs)
            texts.append(_near_copy(rng, texts[j]))
            origin.append(j)
        else:
            n_words = min(160, max(8, int(rng.lognormvariate(3.6, 0.6))))
            texts.append(_docs_text(rng, n_words))
            origin.append(-1)
    ids = list(range(first_id, first_id + n))
    table = pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([rng.choice(LANGS) for _ in ids], pa.string()),
        "source": pa.array([f"src{rng.randrange(20)}" for _ in ids], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    lengths = [len(t.split()) for t in texts]
    stats = {
        "novel": [ids[i] for i in range(n) if origin[i] == -1],
        "near_dups": sum(o != -1 for o in origin),
        "words_p10_p50_p90": [int(np.percentile(lengths, q)) for q in (10, 50, 90)],
    }
    return table, stats


# ---------------------------------------------------------------------------
# stream: K arrival files per source

_T0_US = 1_704_067_200 * 10**6  # 2024-01-01T00:00:00Z


def gen_stream(out_dir: str, seed: int, size: str) -> dict:
    """K arrival files of events (the last one drifted) and K of
    documents (near-duplicates of earlier documents planted across and
    within files), plus a reference events batch for the drift profile."""
    sz = SIZES["stream"][size]
    nrng = np.random.default_rng(seed)
    rng = random.Random(seed)
    k = sz["files"]
    os.makedirs(f"{out_dir}/events")
    os.makedirs(f"{out_dir}/docs")
    _write_parquet(events_table(nrng, sz["reference_events"], 10**9, _T0_US),
                   f"{out_dir}/reference_events.parquet")
    ev_bytes = doc_bytes = 0
    novel: list[int] = []
    texts: list[str] = []
    for f in range(k):
        ev = events_table(nrng, sz["events_per_file"], f * sz["events_per_file"],
                          _T0_US, shift=f == k - 1)
        p = f"{out_dir}/events/part-{f:03d}.parquet"
        _write_parquet(ev, p)
        ev_bytes += os.path.getsize(p)
        ids, rows = [], []
        for i in range(sz["docs_per_file"]):
            doc_id = f * sz["docs_per_file"] + i
            if texts and rng.random() < sz["near_dup_share"]:
                rows.append(_near_copy(rng, rng.choice(texts)))
            else:
                t = _docs_text(rng, rng.randint(40, 120))
                texts.append(t)
                rows.append(t)
                novel.append(doc_id)
            ids.append(doc_id)
        p = f"{out_dir}/docs/part-{f:03d}.parquet"
        _write_parquet(pa.table({"doc_id": pa.array(ids, pa.int64()),
                                 "text": pa.array(rows, pa.string())}), p)
        doc_bytes += os.path.getsize(p)
    return {
        "files": k,
        "input_rows": k * (sz["events_per_file"] + sz["docs_per_file"]),
        "input_bytes": ev_bytes + doc_bytes,
        "novel_doc_ids": novel,
        "drifted_file": k - 1,
        "stated": {
            "arrival_files_per_source": k,
            "events_per_file": sz["events_per_file"],
            "docs_per_file": sz["docs_per_file"],
            "near_dup_share": sz["near_dup_share"],
            "drifted_files": 1,
        },
    }


def set_arrival_order(out_dir: str) -> None:
    """File sources order files by modification time: pin it to the name
    order so batch ids map to files deterministically."""
    for sub in ("events", "docs"):
        for i, name in enumerate(sorted(os.listdir(f"{out_dir}/{sub}"))):
            t = 1_700_000_000 + 10 * i
            os.utime(f"{out_dir}/{sub}/{name}", (t, t))


# ---------------------------------------------------------------------------
# curation: document corpus (the only table the curation queries read)


def gen_curation(out_dir: str, seed: int, size: str) -> dict:
    sz = SIZES["curation"][size]
    rng = random.Random(seed)
    docs, stats = documents_table(rng, sz["documents"], 0, sz["near_dup_share"],
                                  sz["exact_dup_share"])
    _write_parquet(docs, f"{out_dir}/documents.parquet")
    return {
        "input_rows": sz["documents"],
        "input_bytes": dir_bytes(f"{out_dir}/documents.parquet"),
        "stated": {
            "documents": sz["documents"],
            "near_dup_share": sz["near_dup_share"],
            "exact_dup_share": sz["exact_dup_share"],
            "planted_near_or_exact_dups": stats["near_dups"],
            "words_p10_p50_p90": stats["words_p10_p50_p90"],
            "pii_rate": 0.0,
        },
    }


GENERATORS = {"ingest": gen_ingest, "stream": gen_stream, "curation": gen_curation}


def ensure_inputs(cache_root: str, workload: str, seed: int, size: str) -> tuple[str, dict]:
    """Generate (or reuse) the inputs for ``(workload, seed, size)``.
    The manifest is written last, so a directory without one is stale."""
    key = hashlib.sha256(json.dumps(SIZES[workload][size], sort_keys=True)
                         .encode()).hexdigest()[:10]
    out_dir = os.path.join(cache_root, f"{workload}-{size}-s{seed}-{key}")
    manifest_path = os.path.join(out_dir, "manifest.json")
    if not os.path.exists(manifest_path):
        shutil.rmtree(out_dir, ignore_errors=True)
        os.makedirs(out_dir)
        manifest = GENERATORS[workload](out_dir, seed, size)
        with open(manifest_path, "w", encoding="utf-8") as fh:
            json.dump(manifest, fh, ensure_ascii=False, sort_keys=True)
    with open(manifest_path, encoding="utf-8") as fh:
        manifest = json.load(fh)
    if workload == "stream":
        set_arrival_order(out_dir)
    return out_dir, manifest
