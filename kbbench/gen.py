"""Seeded input generator for the knowledge-base benchmark.

Every input is a pure function of the seed. One record model serves both
workloads: a waybill has declared items (table A: mawb, hawb, item_no,
description) and official items (table B: mawb, hawb, item_sequence,
official description, CCC code). ``kb_rebuild`` gets the records as typed
A/B history tables (parquet, the ``table_a_raw``/``table_b_history``
column shape); ``nightly_load`` gets each night as files: per MAWB one
broker zip of XML members (B) and one ``.xlsx`` manifest (A).

Planted cases, each with a known outcome:

* B-only and A-only waybills           -> never linked
* count-mismatched waybills             -> excluded from the vote
* rows with an empty HAWB               -> dropped before linking
* descriptions that normalise to ""     -> aligned, but cast no vote
* full-width, lower-case, ``brand/x`` and ``a/b/x`` spellings of one
  source                                -> NFKC and split-last merge them
* per night: one malformed zip member and one unreadable zip
                                        -> quarantined, two rows a night
"""

from __future__ import annotations

import datetime
import io
import os
import random
import zipfile
from dataclasses import dataclass, field
from xml.sax.saxutils import escape

WORDS = (
    "BABY FOOD MAKER PAPER BOX CABLE USB LED LAMP STEEL CUP PHONE CASE TOY "
    "CAR SHOE SOCK BAG PEN INK GLASS BOTTLE FAN MUG HAT BELT SOAP TOWEL "
    "BRUSH COMB CLOCK WATCH RING KEY LOCK DOOR MAT RUG PLATE BOWL"
).split()
CJK = ["紙盒", "宝宝", "辅食机", "茶杯", "手机壳", "玩具", "鞋", "袋", "笔", "灯"]
BRANDS = ["acme", "Xiaomi", "NoName", "brand-x"]
# items per waybill; mean 3
ITEM_COUNTS = (1, 1, 2, 2, 3, 3, 4, 5, 6)
# share of waybills per planted kind; the rest are linked and count-equal
KINDS = (("b_only", 0.04), ("a_only", 0.03), ("mismatch", 0.05))
EMPTY_HAWB_SHARE = 0.03
EMPTY_SOURCE = "-/-"  # normalises to "": aligned, casts no vote
EMPTY_SOURCE_SHARE = 0.01

QUARANTINE_PER_NIGHT = 2  # one malformed member + one unreadable zip


@dataclass
class Vocab:
    sources: list[str]  # already in normalised form
    targets: list[list[tuple[str, str]]]  # per source: (official, ccc)
    weights: list[list[int]]


@dataclass
class Records:
    """Rows as the typed A/B tables hold them."""

    a: list[tuple] = field(default_factory=list)  # mawb, hawb, item_no, desc
    b: list[tuple] = field(default_factory=list)  # mawb, hawb, seq, off, ccc
    # rows the connectors drop before they reach a table
    a_empty_hawb: list[tuple] = field(default_factory=list)
    b_empty_hawb: list[tuple] = field(default_factory=list)


def vocab(seed: int, n_sources: int = 20000) -> Vocab:
    rng = random.Random(f"{seed}-vocab")
    seen: set[str] = set()
    sources: list[str] = []
    while len(sources) < n_sources:
        words = [rng.choice(WORDS) for _ in range(rng.randint(1, 3))]
        if rng.random() < 0.3:
            words.insert(rng.randrange(len(words) + 1), rng.choice(CJK))
        words.append(str(rng.randint(1, 999)))
        s = " ".join(words)
        if s not in seen:
            seen.add(s)
            sources.append(s)
    targets, weights = [], []
    for i in range(n_sources):
        n = rng.choice((1, 2, 2, 3))
        targets.append(
            [
                (
                    f"{rng.choice(WORDS).title()} of {rng.choice(WORDS).lower()} "
                    f"grade {j}",
                    f"{4800 + i % 150}.{rng.randint(10, 99)}.00.{j:02d}-{i % 9}",
                )
                for j in range(n)
            ]
        )
        weights.append([6, 3, 2][:n])
    return Vocab(sources, targets, weights)


def _full_width(s: str) -> str:
    return "".join(
        "　" if ch == " " else chr(ord(ch) + 0xFEE0) if "!" <= ch <= "~" else ch
        for ch in s
    )


def spelling(base: str, rng: random.Random) -> str:
    """One raw spelling of a normalised source description."""
    k = rng.randrange(7)
    if k == 0:
        return base
    if k == 1:
        return base.lower()
    if k == 2:
        return _full_width(base if rng.random() < 0.5 else base.lower())
    if k == 3:
        return f"{rng.choice(BRANDS)}/{base.lower()}"
    if k == 4:
        return f"a/b/{base}"
    if k == 5:
        return "  " + base.replace(" ", rng.choice(("-", ", ", " . ", "  "))) + "!"
    return f"({base})"


def _hawb_spelling(hawb: str, rng: random.Random) -> str:
    """The declared side spells the waybill number loosely; the link key
    scrubs whitespace, '/' and '-' and upper-cases."""
    k = rng.randrange(4)
    if k == 0:
        return hawb
    if k == 1:
        return hawb.lower()
    if k == 2:
        return f"{hawb[:5]}-{hawb[5:]}"
    return f"{hawb[:5].lower()} {hawb[5:]}"


def waybills(
    rng: random.Random, voc: Vocab, mawb: str, n: int, hawb_base: int
) -> Records:
    """``n`` waybills under one MAWB, planted kinds included."""
    rec = Records()
    n_src = len(voc.sources)
    for w in range(n):
        hawb = f"472LV{hawb_base + w:07d}"
        k = rng.choice(ITEM_COUNTS)
        r = rng.random()
        kind, acc = "linked", 0.0
        for name, share in KINDS:
            acc += share
            if r < acc:
                kind = name
                break
        a_hawb = _hawb_spelling(hawb, rng)
        for i in range(k):
            src = int(n_src * rng.random() ** 2)
            desc = (
                EMPTY_SOURCE
                if rng.random() < EMPTY_SOURCE_SHARE
                else spelling(voc.sources[src], rng)
            )
            off, ccc = rng.choices(voc.targets[src], voc.weights[src])[0]
            if kind != "b_only":
                rec.a.append((mawb, a_hawb, i + 1, desc))
            if kind != "a_only":
                rec.b.append((mawb, hawb, i + 1, off, ccc))
        if kind == "mismatch":
            off, ccc = voc.targets[0][0]
            rec.b.append((mawb, hawb, k + 1, off, ccc))
        if kind == "linked" and rng.random() < EMPTY_HAWB_SHARE:
            rec.a_empty_hawb.append((mawb, None, k + 1, voc.sources[0]))
            rec.b_empty_hawb.append((mawb, None, k + 1) + voc.targets[0][0])
    return rec


# ---------------------------------------------------------------------------
# typed history tables (kb_rebuild, and the nightly store's seed)
# ---------------------------------------------------------------------------


def history(seed: int, rows_per_side: int, voc: Vocab) -> Records:
    rng = random.Random(f"{seed}-history")
    rec = Records()
    per_mawb = 400
    m = 0
    while len(rec.b) < rows_per_side:
        part = waybills(rng, voc, f"H{seed % 100:02d}{m:06d}EX", per_mawb, m * per_mawb)
        for name in ("a", "b", "a_empty_hawb", "b_empty_hawb"):
            getattr(rec, name).extend(getattr(part, name))
        m += 1
    return rec


def _filler(n: int, seed: int):
    rng = random.Random(f"{seed}-filler-{n}")
    return [rng.randint(1, 9) for _ in range(n)], [rng.randint(10, 5000) for _ in range(n)]


def write_history(rec: Records, out_a: str, out_b: str, n_files: int, seed: int) -> None:
    """Typed A/B tables as parquet, ``n_files`` files per side, with the
    column names and types the connectors produce."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    a_rows = rec.a + rec.a_empty_hawb
    b_rows = rec.b + rec.b_empty_hawb
    qa, pa_ = _filler(len(a_rows), seed)
    qb, pb = _filler(len(b_rows), seed + 1)
    a = pa.table(
        {
            "mawb_no": [r[0] for r in a_rows],
            "hawb_no": [r[1] for r in a_rows],
            "item_no": pa.array([r[2] for r in a_rows], pa.int32()),
            "description_original": [r[3] for r in a_rows],
            "qty": pa.array(qa, pa.float64()),
            "qty_unit": ["PCE"] * len(a_rows),
            "net_weight": pa.nulls(len(a_rows), pa.float64()),
            "unit_price": pa.array(pa_, pa.float64()),
            "total_amount": pa.array([q * p for q, p in zip(qa, pa_)], pa.float64()),
            "currency": ["TWD"] * len(a_rows),
            "consignee_name": [f"CNEE {i % 997}" for i in range(len(a_rows))],
            "consignee_id": [f"A{i % 7919:05d}" for i in range(len(a_rows))],
            "consignee_phone": [f"09{i % 99991:08d}" for i in range(len(a_rows))],
            "processing_status": ["PENDING"] * len(a_rows),
            "source_file": [f"{r[0]}.xlsx" for r in a_rows],
            "_row_idx": pa.array(range(len(a_rows)), pa.int64()),
        }
    )
    day = datetime.date(2025, 4, 1)
    b = pa.table(
        {
            "data_source_file": [f"{r[0]}.zip::m{i // 50:04d}.xml" for i, r in enumerate(b_rows)],
            "dcl_doc_no": [f"BY14{i % 997}FUSZH" for i in range(len(b_rows))],
            "mawb_no": [r[0] for r in b_rows],
            "hawb_no": [r[1] for r in b_rows],
            "flight_no": ["250401"] * len(b_rows),
            "import_date": pa.array([day] * len(b_rows), pa.date32()),
            "item_sequence": pa.array([r[2] for r in b_rows], pa.int32()),
            "description_official": [r[3] for r in b_rows],
            "ccc_code": [r[4] for r in b_rows],
            "qty": pa.array(qb, pa.float64()),
            "qty_unit": ["PCE"] * len(b_rows),
            "item_total_amount": pa.array(pb, pa.float64()),
            "hawb_total_amount": pa.array(pb, pa.float64()),
            "unit_price_calculated": pa.array([p / q for q, p in zip(qb, pb)], pa.float64()),
            "duty_rate": ["5.0"] * len(b_rows),
            "consignee_id": [f"A{i % 7919:05d}" for i in range(len(b_rows))],
            "consignee_name": [f"CNEE {i % 997}" for i in range(len(b_rows))],
            "consignee_phone": [f"09{i % 99991:08d}" for i in range(len(b_rows))],
            "shipper_name": ["SHIPPER"] * len(b_rows),
            "export_port": ["CNXMN"] * len(b_rows),
            "_row_idx": pa.array(range(len(b_rows)), pa.int64()),
        }
    )
    for table, out in ((a, out_a), (b, out_b)):
        os.makedirs(out, exist_ok=True)
        step = -(-table.num_rows // n_files)
        for f in range(n_files):
            pq.write_table(
                table.slice(f * step, step), os.path.join(out, f"part-{f:03d}.parquet")
            )


# ---------------------------------------------------------------------------
# nightly files (nightly_load)
# ---------------------------------------------------------------------------


def night(seed: int, n: int, voc: Vocab, mawbs: int, waybills_per_mawb: int) -> list[tuple[str, Records]]:
    """Night ``n``'s records, one entry per MAWB."""
    rng = random.Random(f"{seed}-night-{n}")
    return [
        (
            mawb,
            waybills(rng, voc, mawb, waybills_per_mawb, (n * mawbs + m) * waybills_per_mawb),
        )
        for m in range(mawbs)
        for mawb in [f"N{seed % 100:02d}{n:04d}{m:02d}EX"]
    ]


_BID_FILLER = (
    "<FLY_NO>250401</FLY_NO><IMPORT_DATE>2025-04-01T00:00:00+08:00</IMPORT_DATE>"
    "<QTY>{q}</QTY><QTY_UM>PCE</QTY_UM><PAY_TAX_AMT>{p}.5</PAY_TAX_AMT>"
    "<FOB_AMT_TWD>{f}.0</FOB_AMT_TWD><IMPORT_DUTY_RATE>5.0</IMPORT_DUTY_RATE>"
    "<CNEE_BAN_ID>A123</CNEE_BAN_ID><CNEE_E_NAME>WANG</CNEE_E_NAME>"
    "<OTHER_ITEN_2>TEL0912</OTHER_ITEN_2><SHPR_E_NAME>SHIPPER</SHPR_E_NAME>"
    "<FROM_CODE>CNXMN</FROM_CODE>"
)


def _bid_head(mawb_text: str, hawb: str, off: str, ccc: str, i: int) -> str:
    return (
        f"<BID_HEAD><DCL_DOC_NO>BY/  /14/{i % 997} /FUSZH</DCL_DOC_NO>"
        f"<MAWB>{mawb_text}</MAWB><HAWB_NO>{escape(hawb)}</HAWB_NO>"
        f"<DESCRIPTION>{escape(off)}</DESCRIPTION><CLASSIFY_NO>{ccc}</CLASSIFY_NO>"
        + _BID_FILLER.format(q=i % 7 + 1, p=100 + i % 50, f=200 + i % 90)
        + "</BID_HEAD>"
    )


def _broker_zip(mawb: str, rec: Records, bad_member: bool, per_member: int = 40) -> bytes:
    """B rows as zip members of BID_HEAD records; each HAWB sits in one
    member (the item counter is per member). Empty-HAWB records ride in
    the first member; ``bad_member`` adds one truncated member."""
    mawb_text = f"{mawb[:4]}-{mawb[4:]}" if int(mawb[-4:-2]) % 2 else mawb
    by_hawb: dict[str, list[tuple]] = {}
    for r in rec.b:
        by_hawb.setdefault(r[1], []).append(r)
    hawbs = list(by_hawb)
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        for j in range(0, len(hawbs), per_member):
            parts = ['<?xml version="1.0" encoding="utf-8"?><GicDataSet>']
            if j == 0:
                parts += [_bid_head(mawb_text, " ", r[3], r[4], 0) for r in rec.b_empty_hawb]
            for h in hawbs[j : j + per_member]:
                parts += [_bid_head(mawb_text, h, r[3], r[4], r[2]) for r in by_hawb[h]]
            parts.append("</GicDataSet>")
            zf.writestr(f"{mawb}_{j // per_member:04d}.xml", "".join(parts))
        zf.writestr("__MACOSX/._ignored.xml", b"\x00\x05\x16\x07")
        if bad_member:
            zf.writestr(f"{mawb}_broken.xml", "<GicDataSet><BID_HEAD><HAWB_NO>47")
    return buf.getvalue()


_HEADER = ["提單號", "b", "c", "品名", "e", "f", "g", "h", "i", "數量", "單位", "l", "m", "單價", "總價"]


def _manifest_grid(mawb: str, rec: Records) -> list[list]:
    """New-format manifest: MAWB in A1, header on row 3, the HAWB only on
    a waybill's first item (merged-cell style, forward-filled on read)."""
    grid: list[list] = [[mawb] + [None] * 14, [None] * 15, list(_HEADER)]
    prev = None
    for _, hawb, item, desc in rec.a:
        q = item % 7 + 1
        grid.append(
            [hawb if hawb != prev else None, "x", "x", desc, "x", "x", "x", "x", "x",
             q, "PCE", "x", "x", 10 + item % 5, (10 + item % 5) * q]
        )
        prev = hawb
    return grid


def _cell_ref(row: int, col: int) -> str:
    return f"{chr(65 + col)}{row + 1}"


def xlsx_bytes(grid: list[list]) -> bytes:
    """Minimal SpreadsheetML workbook (inline strings), written here so
    the inputs do not depend on the program's own writer."""
    rows = []
    for ri, row in enumerate(grid):
        cells = []
        for ci, v in enumerate(row):
            if v is None:
                continue
            if isinstance(v, (int, float)):
                cells.append(f'<c r="{_cell_ref(ri, ci)}"><v>{v}</v></c>')
            else:
                cells.append(
                    f'<c r="{_cell_ref(ri, ci)}" t="inlineStr"><is><t xml:space="preserve">'
                    f"{escape(v)}</t></is></c>"
                )
        rows.append(f'<row r="{ri + 1}">{"".join(cells)}</row>')
    ns = "http://schemas.openxmlformats.org"
    sheet = (
        f'<?xml version="1.0" encoding="UTF-8"?><worksheet xmlns="{ns}/spreadsheetml/2006/main">'
        f"<sheetData>{''.join(rows)}</sheetData></worksheet>"
    )
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        zf.writestr(
            "[Content_Types].xml",
            f'<?xml version="1.0" encoding="UTF-8"?><Types xmlns="{ns}/package/2006/content-types">'
            '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
            '<Default Extension="xml" ContentType="application/xml"/></Types>',
        )
        zf.writestr(
            "_rels/.rels",
            f'<?xml version="1.0" encoding="UTF-8"?><Relationships xmlns="{ns}/package/2006/relationships">'
            f'<Relationship Id="rId1" Type="{ns}/officeDocument/2006/relationships/officeDocument" '
            'Target="xl/workbook.xml"/></Relationships>',
        )
        zf.writestr(
            "xl/workbook.xml",
            f'<?xml version="1.0" encoding="UTF-8"?><workbook xmlns="{ns}/spreadsheetml/2006/main" '
            f'xmlns:r="{ns}/officeDocument/2006/relationships"><sheets>'
            '<sheet name="Sheet1" sheetId="1" r:id="rId1"/></sheets></workbook>',
        )
        zf.writestr(
            "xl/_rels/workbook.xml.rels",
            f'<?xml version="1.0" encoding="UTF-8"?><Relationships xmlns="{ns}/package/2006/relationships">'
            f'<Relationship Id="rId1" Type="{ns}/officeDocument/2006/relationships/worksheet" '
            'Target="worksheets/sheet1.xml"/></Relationships>',
        )
        zf.writestr("xl/worksheets/sheet1.xml", sheet)
    return buf.getvalue()


def write_night(parts: list[tuple[str, Records]], n: int, xml_dir: str, xlsx_dir: str) -> int:
    """Night ``n``'s files; returns the bytes written. The first MAWB's
    zip carries the malformed member; one extra zip is unreadable."""
    os.makedirs(xml_dir, exist_ok=True)
    os.makedirs(xlsx_dir, exist_ok=True)
    total = 0
    for m, (mawb, rec) in enumerate(parts):
        for path, data in (
            (os.path.join(xml_dir, f"{mawb}.zip"), _broker_zip(mawb, rec, bad_member=m == 0)),
            (os.path.join(xlsx_dir, f"{mawb}.xlsx"), xlsx_bytes(_manifest_grid(mawb, rec))),
        ):
            with open(path, "wb") as f:
                f.write(data)
            total += len(data)
    junk = random.Random(f"junk-{n}").randbytes(4096)
    with open(os.path.join(xml_dir, f"UNREADABLE{n:04d}.zip"), "wb") as f:
        f.write(b"PK\x03\x04" + junk)
    return total + 4 + len(junk)


def night_dirs(work: str, n: int) -> tuple[str, str]:
    base = os.path.join(work, "in", f"night{n:04d}")
    return os.path.join(base, "xml"), os.path.join(base, "xlsx")
