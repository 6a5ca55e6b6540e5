"""Seeded input generators for the benchmark workloads.

Everything here is written in the benchmark's own code so that a
change to the package cannot change what the benchmark feeds it:

- ``documents`` / ``embeddings``: the curation corpus. Documents are
  random sentences over the fixture vocabulary with ~5% near-duplicate
  families and a few exact duplicates; embeddings are random unit
  vectors. Both are written as ONE parquet row group, the layout that
  arms the package's intake respread.
- ``events`` / ``customer``: the inputs of the streaming queries.
- ``workbook.xlsx``: the reference job's source sheet with the
  FIXTURES.md A1 quirks (duplicate CPF/CNPJ keys in two spellings,
  float-typed phone columns, null UF/Plano cells, one-off plano codes
  outside the 16-code catalogue), written as minimal OOXML.

``ensure_inputs(root, seed, names)`` builds a seed's inputs once and
caches them under ``root/<seed>-<VERSION>``; generation is never
timed.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
import zipfile

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_DOCUMENTS = 300
N_EMBEDDINGS = 500
N_EVENTS = 2_000
N_CUSTOMERS = 300
N_WORKBOOK_ROWS = 12_000

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "de", "fr", "es", "zh"]
LANG_P = [0.41, 0.145, 0.15, 0.15, 0.145]
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]

def _write_parquet(table: pa.Table, path: str) -> None:
    # one row group, as in the fixtures the package was tuned on
    pq.write_table(table, path, row_group_size=max(1, table.num_rows))


def documents(rng: np.random.Generator, n: int = N_DOCUMENTS) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.05:
            # near-duplicate: copy an earlier document, insert a marker
            words = texts[int(rng.integers(0, i))].split()
            words.insert(int(rng.integers(0, len(words) + 1)), "dup")
            texts.append(" ".join(words))
        elif i > 10 and r < 0.052:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            k = int(rng.integers(6, 31))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), k)))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[j] for j in rng.choice(len(LANGS), n, p=LANG_P)]),
        "source": pa.array([f"src{j}" for j in rng.integers(0, 20, n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings(rng: np.random.Generator, n: int = N_EMBEDDINGS, dim: int = 64) -> pa.Table:
    x = rng.standard_normal((n, dim))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    flat = pa.array(x.astype(np.float32).ravel(), pa.float32())
    offsets = pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32))
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    })


def events(rng: np.random.Generator, n: int = N_EVENTS) -> pa.Table:
    # microsecond instants stored as TIMESTAMP(NANOS), the unit of the
    # fixture events table, so the package's nanosecond intake path runs
    start = np.datetime64("2024-01-01T00:00:00", "ns")
    span_us = 30 * 86_400 * 1_000_000
    ts = start + (np.sort(rng.integers(0, span_us, n)) * 1_000).astype("timedelta64[ns]")
    value = np.round(rng.exponential(50.0, n), 2)
    value[value <= 0] = 0.01
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("ns")),
        "user_id": pa.array(rng.integers(0, max(1, n // 67), n).astype(np.int64)),
        "event_type": pa.array([EVENT_TYPES[j] for j in rng.integers(0, 5, n)]),
        "value": pa.array(value),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def customer(rng: np.random.Generator, n: int = N_CUSTOMERS) -> pa.Table:
    return pa.table({
        "c_custkey": pa.array(np.arange(n, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n), 2)),
        "c_mktsegment": pa.array([SEGMENTS[j] for j in rng.integers(0, 5, n)]),
    })


# ------------------------------------------------------------ workbook

WORKBOOK_HEADERS = [
    "Nome/Razão Social", "Nome Fantasia", "CPF/CNPJ", "Data Nasc.",
    "Data Cadastro cliente", "Celulares", "Telefones", "Emails",
    "Endereço", "Número", "Complemento", "Bairro", "CEP", "Cidade",
    "UF", "Plano", "Plano Valor", "Vencimento", "Status", "Isento",
]
# the Spark type of each header, in order (read_workbook's declared schema)
WORKBOOK_TYPES = [
    "string", "string", "string", "timestamp", "timestamp", "double",
    "double", "string", "string", "string", "string", "string",
    "string", "string", "string", "string", "double", "bigint",
    "string", "string",
]
UFS = [
    "Acre", "Alagoas", "Amapá", "Amazonas", "Bahia", "Ceará",
    "Distrito Federal", "Espírito Santo", "Goiás", "Maranhão",
    "Mato Grosso", "Mato Grosso do Sul", "Minas Gerais", "Pará",
    "Paraíba", "Paraná", "Pernambuco", "Piauí", "Rio de Janeiro",
    "Rio Grande do Norte", "Rio Grande do Sul", "Rondônia", "Roraima",
    "Santa Catarina", "São Paulo", "Sergipe", "Tocantins",
]
PLANOS = [f"{mb}MB_PLA_{city}_FIBRA_{price}_NOVO" for mb, city, price in [
    (50, "ITA", 99), (100, "ITA", 119), (200, "ITA", 139), (300, "ITA", 159),
    (50, "REC", 89), (100, "REC", 109), (200, "REC", 129), (300, "REC", 149),
    (50, "OLI", 79), (100, "OLI", 99), (200, "OLI", 119), (300, "OLI", 139),
    (400, "REC", 179), (500, "REC", 199), (600, "REC", 219), (1000, "REC", 299),
]]
_EPOCH = dt.datetime(1899, 12, 30)


def _cpf(d: str) -> str:
    return f"{d[0:3]}.{d[3:6]}.{d[6:9]}-{d[9:11]}"


def _cnpj(d: str) -> str:
    return f"{d[0:2]}.{d[2:5]}.{d[5:8]}/{d[8:12]}-{d[12:14]}"


def workbook_rows(rng: np.random.Generator, n: int = N_WORKBOOK_ROWS) -> list[list]:
    """Rows of the source sheet.

    The null and value rates of the profiled columns are FIXTURES.md
    A1's counts over its 1 200 rows: Nome Fantasia 1199 null, Data
    Nasc. 479, Celulares 135, Telefones 448, Emails 33, Endereço 2,
    Complemento 75; CNPJ keys 5 of 1 200; Status "Ativo" 115; Isento
    "Sim" 6. The quirks the fixture has too few of are raised so that
    each path runs at this size: ~1% of rows re-use an earlier CPF/CNPJ
    (the fixture has 2 duplicates), a fifth of the CPFs are written as
    bare digits so only digit normalization finds a duplicate, and UF
    (1%) and Plano (0.5%) are null although the fixture has no nulls
    there; 0.3% of rows carry a plano code outside the catalogue."""
    rows: list[list] = []
    keys: list[str] = []
    for i in range(n):
        if i > 100 and rng.random() < 0.01:
            digits = keys[int(rng.integers(0, len(keys)))]
        else:
            cnpj = rng.random() < 0.005
            digits = "".join(map(str, rng.integers(0, 10, 14 if cnpj else 11)))
            keys.append(digits)
        if len(digits) == 14:
            key = _cnpj(digits)
        else:
            key = _cpf(digits) if rng.random() < 0.8 else digits
        r = rng.random()
        plano = (
            None if r < 0.005
            else f"PROMO_{i}_UNLISTED" if r < 0.008
            else PLANOS[int(rng.integers(0, len(PLANOS)))]
        )
        rows.append([
            f"Cliente {i} {VOCAB[i % len(VOCAB)]}",
            None if rng.random() < 0.999 else f"Fantasia {i}",
            key,
            None if rng.random() < 0.4
            else dt.datetime(1950, 1, 1) + dt.timedelta(days=int(rng.integers(0, 20_000))),
            dt.datetime(2018, 1, 1) + dt.timedelta(minutes=int(rng.integers(0, 3_000_000))),
            None if rng.random() < 0.11 else float(5581000000000 + int(rng.integers(0, 10**9))),
            None if rng.random() < 0.37 else float(8130000000 + int(rng.integers(0, 10**7))),
            None if rng.random() < 0.03 else f"cliente{i}@example.com",
            None if rng.random() < 0.002 else f"Rua {int(rng.integers(1, 900))}",
            str(int(rng.integers(1, 3000))),
            None if rng.random() < 0.06 else f"quadra {i % 90},lote {i % 7}",
            f"Bairro {int(rng.integers(0, 200))}",
            f"{int(rng.integers(10000, 99999))}-{int(rng.integers(0, 999)):03d}"
            if rng.random() < 0.5 else f"{int(rng.integers(10**7, 10**8))}",
            f"Cidade {int(rng.integers(0, 150))}",
            None if rng.random() < 0.01 else UFS[int(rng.integers(0, len(UFS)))],
            plano,
            round(59.9 + float(rng.integers(0, 16)) * 10, 2),
            [5, 10, 15, 20, 25][int(rng.integers(0, 5))],
            "Velocidade Reduzida" if rng.random() < 0.9 else "Ativo",
            "Sim" if rng.random() < 0.005 else None,
        ])
    return rows


def _col_ref(j: int) -> str:
    s = ""
    j += 1
    while j:
        j, r = divmod(j - 1, 26)
        s = chr(65 + r) + s
    return s


def _esc(s: str) -> str:
    return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


def _cell(ref: str, v) -> str:
    if v is None:
        return ""
    if isinstance(v, dt.datetime):
        serial = (v - _EPOCH).total_seconds() / 86_400
        return f'<c r="{ref}" s="1"><v>{serial!r}</v></c>'
    if isinstance(v, (int, float)):
        return f'<c r="{ref}"><v>{v!r}</v></c>'
    return f'<c r="{ref}" t="inlineStr"><is><t>{_esc(v)}</t></is></c>'


_CONTENT_TYPES = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
    '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
    '<Default Extension="xml" ContentType="application/xml"/>'
    '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
    '<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
    '<Override PartName="/xl/styles.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.styles+xml"/>'
    "</Types>"
)
_ROOT_RELS = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
    '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>'
    "</Relationships>"
)
_WORKBOOK = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
    'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
    '<sheets><sheet name="Planilha2" sheetId="1" r:id="rId1"/></sheets></workbook>'
)
_WORKBOOK_RELS = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
    '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>'
    '<Relationship Id="rId2" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/styles" Target="styles.xml"/>'
    "</Relationships>"
)
# cellXfs[1] carries the builtin date format 22 (m/d/yy h:mm)
_STYLES = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<styleSheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
    '<cellXfs count="2"><xf numFmtId="0"/><xf numFmtId="22" applyNumberFormat="1"/></cellXfs>'
    "</styleSheet>"
)


def write_workbook(path: str, headers: list[str], rows: list[list]) -> None:
    refs = [_col_ref(j) for j in range(len(headers))]
    parts = [
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>'
    ]
    for i, row in enumerate([headers, *rows], start=1):
        cells = "".join(_cell(f"{refs[j]}{i}", v) for j, v in enumerate(row))
        parts.append(f'<row r="{i}">{cells}</row>')
    parts.append("</sheetData></worksheet>")
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as zf:
        zf.writestr("[Content_Types].xml", _CONTENT_TYPES)
        zf.writestr("_rels/.rels", _ROOT_RELS)
        zf.writestr("xl/workbook.xml", _WORKBOOK)
        zf.writestr("xl/_rels/workbook.xml.rels", _WORKBOOK_RELS)
        zf.writestr("xl/styles.xml", _STYLES)
        zf.writestr("xl/worksheets/sheet1.xml", "".join(parts))


# hash of this module's source: names the cache directory of a seed
with open(__file__, "rb") as _f:
    VERSION = hashlib.sha1(_f.read()).hexdigest()[:12]

GENERATORS = {
    "documents.parquet": documents,
    "embeddings.parquet": embeddings,
    "events.parquet": events,
    "customer.parquet": customer,
    "workbook.xlsx": None,
}


def ensure_inputs(root: str, seed: int, names: list[str]) -> str:
    """Directory holding the seed's ``names`` (file names of
    ``GENERATORS``), each built once. Every input draws from its own
    stream of the seed, so which others exist does not change it. The
    directory is named by the seed and ``VERSION``, so a cache built by
    an older copy of this module is never reused."""
    out = os.path.join(root, f"{seed}-{VERSION}")
    os.makedirs(out, exist_ok=True)
    for name in names:
        path = os.path.join(out, name)
        if os.path.exists(path):
            continue
        rng = np.random.default_rng([seed, list(GENERATORS).index(name)])
        tmp = f"{path}.{os.getpid()}.tmp"
        if name == "workbook.xlsx":
            write_workbook(tmp, WORKBOOK_HEADERS, workbook_rows(rng))
        else:
            _write_parquet(GENERATORS[name](rng), tmp)
        os.replace(tmp, path)
    return out
