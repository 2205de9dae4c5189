"""Seeded inputs for the benchmark, and the ETL oracle.

`etl_sources` writes the paper's three source files (two `;`-CSVs with the
French headers and one XLSX) and returns what the pipeline must produce
from them. That expectation is computed here from the generated rows, with
no code from the program under test: every phone number is generated from
its normalised form, so the oracle knows the expected value of each branch
without re-implementing the normaliser.

`registry_tables` writes the ten harness tables (TPC-H-like star schema,
events, documents, embeddings) the registry queries read.
"""
import datetime as dt
import hashlib
import os
import random
import zipfile
from xml.sax.saxutils import escape

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---- ETL sources -----------------------------------------------------------

ETL_ROWS = {"contacts": 5000, "contrats": 10000, "relations": 3000}

CONTACT_HEADER = ["nom", "prenom", "date de naissance", "civilité",
                  "type de contact", "adresse", "code postal", "ville", "pays",
                  "telephone"]
CONTRACT_HEADER = ["nom", "prenom", "date de naissance", "numero du contrat",
                   "ouvert le", "isin", "nombre", "prix unitaire",
                   "date du prix", "valeur"]
RELATION_HEADER = ["nom source", "prenom source", "date de naissance source",
                   "nom destination", "prenom destination",
                   "date de naissance destination", "type de relation"]
HOLDER_KEY = (0, 1, 2)

SURNAMES = ["Martin", "Bernard", "Dubois", "Thomas", "Robert", "Richard",
            "Petit", "Durand", "Leroy", "Moreau", "Simon", "Laurent",
            "Lefebvre", "Michel", "Garcia", "David", "Bertrand", "Roux"]
FIRST_NAMES = ["Jean", "Marie", "Pierre", "Claire", "Paul", "Julie",
               "Louis", "Emma", "Hugo", "Chloe", "Lucas", "Lea", "Nathan"]
CITIES = ["Paris", "Lyon", "Marseille", "Lille", "Nantes", "Bordeaux",
          "Toulouse", "Nice", "Rennes", "Strasbourg"]
STREETS = ["rue de la Paix", "avenue Foch", "boulevard Voltaire",
           "rue Victor Hugo", "place Bellecour", "quai de Saone"]
LABELS = {"espoux (e) de": "SPOUSE_OF", "parent (e) de": "PARENT_OF",
          "enfant (e) de": "CHILD_OF"}
UNMAPPED_LABEL = "ami (e) de"

# Phone branches: name -> (render(area, exchange, line), expected output).
# Each branch renders one national number; `None` means the program must
# reject it.
PHONE_BRANCHES = {
    "dash3": lambda a, e, l: (f"{a}-{e}-{l}", f"+1 {a}-{e}-{l}"),
    "prefix001": lambda a, e, l: (f"001-{a}-{e}-{l}", f"+1 {a}-{e}-{l}"),
    "prefix+1": lambda a, e, l: (f"+1-{a}-{e}-{l}", f"+1 {a}-{e}-{l}"),
    "digits10": lambda a, e, l: (f"{a}{e}{l}", f"+1 {a}-{e}-{l}"),
    "punctuated": lambda a, e, l: (f"({a}){e}.{l}", f"+1 {a}-{e}-{l}"),
    "french9": lambda a, e, l: (
        f"{a}{e}{l}"[1:], "+33 {0} {1}{2} {3}{4} {5}{6} {7}{8}".format(
            *f"{a}{e}{l}"[1:])),
    "extension": lambda a, e, l: (f"{a}-{e}-{l}x{l[:3]}",
                                  f"+1 {a}-{e}-{l}x{l[:3]}"),
    "leading0": lambda a, e, l: (f"0{a[1:]}{e}{l}", None),
    "garbage": lambda a, e, l: ("n/a", None),
    "empty": lambda a, e, l: ("", None),
}
PHONE_WEIGHTS = [30, 8, 8, 20, 8, 10, 6, 4, 3, 3]


def _fr(d):
    return d.strftime("%d/%m/%Y")


def _ts(d):
    return dt.datetime(d.year, d.month, d.day)


def _id(*parts):
    """sha256 over the natural key, nulls as \\0 and fields split by \\1;
    dates render as Spark renders a timestamp cast to string."""
    def render(p):
        if p is None:
            return "\x00"
        if isinstance(p, dt.datetime):
            return p.strftime("%Y-%m-%d %H:%M:%S")
        return str(p)
    return hashlib.sha256("\x01".join(render(p) for p in parts)
                          .encode()).hexdigest()


def _write_csv(path, header, rows):
    with open(path, "w", encoding="utf-8", newline="") as f:
        f.write(";".join(header) + "\n")
        for r in rows:
            f.write(";".join("" if v is None else str(v) for v in r) + "\n")


def _write_xlsx(path, header, rows):
    """Minimal one-sheet workbook with inline strings; empty cells omitted."""
    def col(i):
        s = ""
        i += 1
        while i:
            i, r = divmod(i - 1, 26)
            s = chr(65 + r) + s
        return s
    body = []
    for n, r in enumerate([header] + rows, start=1):
        cells = "".join(
            f'<c r="{col(i)}{n}" t="inlineStr"><is><t>{escape(v)}</t></is></c>'
            for i, v in enumerate(r) if v is not None)
        body.append(f'<row r="{n}">{cells}</row>')
    sheet = ('<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
             '<worksheet xmlns="http://schemas.openxmlformats.org/'
             'spreadsheetml/2006/main"><sheetData>' + "".join(body) +
             '</sheetData></worksheet>')
    ns = "http://schemas.openxmlformats.org"
    files = {
        "[Content_Types].xml":
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            f'<Types xmlns="{ns}/package/2006/content-types">'
            '<Default Extension="rels" ContentType="application/'
            'vnd.openxmlformats-package.relationships+xml"/>'
            '<Default Extension="xml" ContentType="application/xml"/>'
            '<Override PartName="/xl/workbook.xml" ContentType="application/'
            'vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
            '<Override PartName="/xl/worksheets/sheet1.xml" ContentType='
            '"application/vnd.openxmlformats-officedocument.spreadsheetml.'
            'worksheet+xml"/></Types>',
        "_rels/.rels":
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            f'<Relationships xmlns="{ns}/package/2006/relationships">'
            f'<Relationship Id="rId1" Type="{ns}/officeDocument/2006/'
            'relationships/officeDocument" Target="xl/workbook.xml"/>'
            '</Relationships>',
        "xl/workbook.xml":
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            f'<workbook xmlns="{ns}/spreadsheetml/2006/main" xmlns:r="{ns}/'
            'officeDocument/2006/relationships"><sheets><sheet name="Sheet1" '
            'sheetId="1" r:id="rId1"/></sheets></workbook>',
        "xl/_rels/workbook.xml.rels":
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            f'<Relationships xmlns="{ns}/package/2006/relationships">'
            f'<Relationship Id="rId1" Type="{ns}/officeDocument/2006/'
            'relationships/worksheet" Target="worksheets/sheet1.xml"/>'
            '</Relationships>',
        "xl/worksheets/sheet1.xml": sheet,
    }
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        for name, text in files.items():
            z.writestr(name, text)


def etl_sources(out_dir, seed):
    """Writes contacts.csv, contrats.csv and relations.xlsx; returns the
    oracle: expected output tables, expected profile numbers, and the share
    of each generated property."""
    rnd = random.Random(seed)
    n_c, n_k, n_r = (ETL_ROWS[k] for k in ("contacts", "contrats", "relations"))

    def birthday():
        return dt.date(1940, 1, 1) + dt.timedelta(days=rnd.randrange(22000))

    def phone():
        branch = rnd.choices(list(PHONE_BRANCHES), PHONE_WEIGHTS)[0]
        area = str(rnd.randrange(200, 1000))
        raw, norm = PHONE_BRANCHES[branch](
            area, str(rnd.randrange(200, 1000)), f"{rnd.randrange(10000):04d}")
        return branch, raw, norm

    people = []            # PF natural keys (nom, prenom, birthday date)
    contacts = []          # raw CSV rows
    contact_rows = []      # (key, type, fields for the contacts table)
    phone_counts = dict.fromkeys(PHONE_BRANCHES, 0)
    n_dup = n_pm = 0
    for i in range(n_c):
        if people and rnd.random() < 0.05:
            key, kind = rnd.choice(people), "PF"
            n_dup += 1
        elif rnd.random() < 0.10:
            key, kind = (f"Societe {SURNAMES[i % len(SURNAMES)]} {i}", None, None), "PM"
            n_pm += 1
        else:
            key, kind = (f"{rnd.choice(SURNAMES)} {i}", rnd.choice(FIRST_NAMES),
                         birthday()), "PF"
            people.append(key)
        branch, raw, norm = phone()
        phone_counts[branch] += 1
        civ = None if kind == "PM" or rnd.random() < 0.02 else rnd.choice(["M", "Mme"])
        addr = None if rnd.random() < 0.03 else \
            f"{rnd.randrange(1, 200)} {rnd.choice(STREETS)}"
        zipc = None if rnd.random() < 0.01 else rnd.randrange(10000, 100000)
        city = rnd.choice(CITIES)
        country = "Belgique" if rnd.random() < 0.05 else "France"
        nom, prenom, bday = key
        contacts.append([nom, prenom, _fr(bday) if bday else None, civ, kind,
                         addr, zipc, city, country, raw or None])
        contact_rows.append((key, kind, (civ, addr, zipc, city, country, norm)))

    contact_keys = [r[0] for r in contact_rows]
    hot = people[0]
    contracts = []
    n_orphan = n_hot = 0
    for i in range(n_k):
        u = rnd.random()
        if u < 0.05:
            key = hot
            n_hot += 1
        elif u < 0.20:
            key = (f"Inconnu {i}", rnd.choice(FIRST_NAMES), birthday())
            n_orphan += 1
        else:
            key = rnd.choice(contact_keys)
        opened = dt.date(2000, 1, 1) + dt.timedelta(days=rnd.randrange(8000))
        priced = opened + dt.timedelta(days=rnd.randrange(400))
        count = rnd.randrange(1, 500)
        price = round(rnd.uniform(1, 500), 2)
        nom, prenom, bday = key
        contracts.append([nom, prenom, _fr(bday) if bday else None,
                          f"CT{i:08d}", _fr(opened),
                          f"FR{rnd.randrange(10**10):010d}", count,
                          f"{price:.2f}", _fr(priced), f"{count * price:.2f}"])

    relations = []
    n_null_first = n_unmapped = 0
    for i in range(n_r):
        ends = []
        for _ in range(2):
            if rnd.random() < 0.85:
                ends.append(rnd.choice(people))
            else:
                ends.append((f"Parent {i}", rnd.choice(FIRST_NAMES), birthday()))
        if rnd.random() < 0.05:
            side = rnd.randrange(2)
            ends[side] = (ends[side][0], None, ends[side][2])
            n_null_first += 1
        if rnd.random() < 0.03:
            label = UNMAPPED_LABEL
            n_unmapped += 1
        else:
            label = rnd.choice(list(LABELS))
        (ns, ps, bs), (nd, pd, bd) = ends
        relations.append([ns, ps, bs.isoformat(), nd, pd, bd.isoformat(), label])

    os.makedirs(out_dir, exist_ok=True)
    _write_csv(os.path.join(out_dir, "contacts.csv"), CONTACT_HEADER, contacts)
    _write_csv(os.path.join(out_dir, "contrats.csv"), CONTRACT_HEADER, contracts)
    _write_xlsx(os.path.join(out_dir, "relations.xlsx"), RELATION_HEADER,
                relations)

    # -- expected outputs (the reference's intended semantics) --
    entities = {}

    def entity(nom, prenom, bday, kind):
        ts = _ts(bday) if bday else None
        eid = _id(nom, prenom, ts, kind)
        entities[eid] = (eid, nom, prenom, ts, kind)
        return eid

    best = {}
    for (nom, prenom, bday), kind, fields in contact_rows:
        eid = entity(nom, prenom, bday, kind)
        sort_key = tuple((v is not None, v) for v in fields)
        if eid not in best or sort_key < best[eid][0]:
            best[eid] = (sort_key, (eid,) + fields)
    contracts_out = []
    for r in contracts:
        bday = dt.datetime.strptime(r[2], "%d/%m/%Y").date() if r[2] else None
        kind = "PM" if r[1] is None and bday is None else "PF"
        eid = entity(r[0], r[1], bday, kind)
        contracts_out.append((r[3], _ts(dt.datetime.strptime(r[4], "%d/%m/%Y")),
                              r[5], r[6], float(r[7]),
                              _ts(dt.datetime.strptime(r[8], "%d/%m/%Y")), eid))
    relations_out = []
    for ns, ps, bs, nd, pd, bd, label in relations:
        if ps is None or pd is None:
            continue
        src = entity(ns, ps, dt.date.fromisoformat(bs), "PF")
        dst = entity(nd, pd, dt.date.fromisoformat(bd), "PF")
        relations_out.append((src, dst, LABELS.get(label)))

    tables = {
        "entities": (["entity_id", "name", "first_name", "birthday",
                      "entity_type"], list(entities.values())),
        "contacts": (["entity_id", "civility", "address", "zip_code", "city",
                      "country", "phone_number"], [v[1] for v in best.values()]),
        "contracts": (["contract_number", "open_at", "isin", "count",
                       "unit_price", "date_price", "entity_id"], contracts_out),
        "relations": (["entity_id_source", "entity_id_destination",
                       "relation_type"], relations_out),
    }
    expected = {name: {"rows": len(rows), "fingerprint": fingerprint(cols, rows)}
                for name, (cols, rows) in tables.items()}

    def null_counts(rows, width):
        return [sum(1 for r in rows if r[i] in (None, "")) for i in range(width)]

    def dups(rows):
        groups = {}
        for r in rows:
            k = tuple(r[i] for i in HOLDER_KEY)
            groups[k] = groups.get(k, 0) + 1
        return (sum(c for c in groups.values() if c > 1),
                sum(c - 1 for c in groups.values()))

    contract_holders = {tuple(r[i] for i in HOLDER_KEY) for r in contracts}
    semi = sum(1 for r in contacts
               if all(r[i] is not None for i in HOLDER_KEY)
               and tuple(r[i] for i in HOLDER_KEY) in contract_holders)
    profile = (null_counts(contacts, 10) + null_counts(contracts, 10)
               + list(dups(contacts)) + list(dups(contracts)) + [semi])
    properties = {
        "duplicate_natural_key_share": n_dup / n_c,
        "pm_share": n_pm / n_c,
        "orphan_contract_share": n_orphan / n_k,
        "hot_holder_share": n_hot / n_k,
        "relation_null_first_name_share": n_null_first / n_r,
        "unmapped_label_share": n_unmapped / n_r,
        **{f"phone_{b}_share": c / n_c for b, c in phone_counts.items()},
    }
    assert all(properties.values()), properties
    return {"tables": expected, "profile": profile, "properties": properties,
            "source_rows": n_c + n_k}


# ---- fingerprints ------------------------------------------------------------

def render(v):
    if v is None:
        return "\x00"
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, dt.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    return str(v)


def fingerprint(columns, rows):
    """Order-independent: the sum of one 64-bit hash per row, over the
    columns sorted by name."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    total = 0
    for r in rows:
        line = "\x1f".join(render(r[i]) for i in order).encode()
        total += int.from_bytes(hashlib.blake2b(line, digest_size=8).digest(),
                                "little")
    return f"{total % (1 << 64):016x}"


def parquet_fingerprint(path):
    """Row count and fingerprint of a Spark-written parquet directory."""
    t = pq.read_table(path)
    cols = []
    for f in t.schema:
        c = t.column(f.name)
        if pa.types.is_timestamp(f.type):
            c = c.cast(pa.timestamp("us"))
        cols.append(c.to_pylist())
    return t.num_rows, fingerprint(t.schema.names, list(zip(*cols)))


# ---- registry tables ---------------------------------------------------------

REGISTRY_ROWS = {"customer": 500, "supplier": 100, "part": 1000,
                 "orders": 5000, "events": 5000, "documents": 1000,
                 "embeddings": 500}
WORDS = ("row the query stream value hash batch sort data big filter dup key "
         "agg scan slow table part a merge window order column join vector "
         "fast spark line small customer group").split()


def registry_tables(out_dir, seed):
    """Writes the ten harness tables as parquet files; returns their total
    row count."""
    rng = np.random.default_rng(seed)
    n = REGISTRY_ROWS
    os.makedirs(out_dir, exist_ok=True)
    day = np.timedelta64(1, "D")
    tables = {}
    tables["region"] = {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}
    tables["nation"] = {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)}
    segments = np.array(["BUILDING", "MACHINERY", "AUTOMOBILE", "HOUSEHOLD",
                         "FURNITURE"])
    tables["customer"] = {
        "c_custkey": np.arange(n["customer"], dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": pa.array(rng.integers(0, 25, n["customer"], dtype=np.int32)),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n["customer"]), 2),
        "c_mktsegment": segments[rng.integers(0, 5, n["customer"])]}
    tables["supplier"] = {
        "s_suppkey": np.arange(n["supplier"], dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"], dtype=np.int32)),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n["supplier"]), 2)}
    adjectives = ["cold", "small", "large", "hot", "red", "blue", "old"]
    nouns = ["widget", "bolt", "plate", "ring", "rod", "gear", "gizmo"]
    types = np.array(["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"])
    tables["part"] = {
        "p_partkey": np.arange(n["part"], dtype=np.int64),
        "p_name": [f"{adjectives[a]} {nouns[b]}" for a, b in
                   zip(rng.integers(0, 7, n["part"]), rng.integers(0, 7, n["part"]))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n["part"])],
        "p_type": types[rng.integers(0, 6, n["part"])],
        "p_size": pa.array(rng.integers(1, 51, n["part"], dtype=np.int32)),
        "p_retailprice": np.round(900 + (np.arange(n["part"]) % 1000) * 0.1, 2)}
    start = np.datetime64("1995-01-01")
    odate = start + rng.integers(0, 2404, n["orders"]) * day
    tables["orders"] = {
        "o_orderkey": np.arange(n["orders"], dtype=np.int64),
        "o_custkey": rng.integers(0, n["customer"], n["orders"], dtype=np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n["orders"])],
        "o_totalprice": np.round(rng.uniform(1000, 500000, n["orders"]), 2),
        "o_orderdate": odate.astype("datetime64[us]"),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                     "4-NOT SPECIFIED", "5-LOW"])[
            rng.integers(0, 5, n["orders"])]}
    lines = np.clip(rng.poisson(3.5, n["orders"]) + 1, 1, 12)
    ok = np.repeat(np.arange(n["orders"], dtype=np.int64), lines)
    m = len(ok)
    tables["lineitem"] = {
        "l_orderkey": ok,
        "l_partkey": rng.integers(0, n["part"], m, dtype=np.int64),
        "l_suppkey": rng.integers(0, n["supplier"], m, dtype=np.int64),
        "l_linenumber": pa.array(np.concatenate([np.arange(1, k + 1) for k in lines])
                                 .astype(np.int32)),
        "l_quantity": rng.integers(1, 51, m).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105000, m), 2),
        "l_discount": rng.integers(0, 11, m) / 100.0,
        "l_tax": rng.integers(0, 9, m) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, m)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, m)],
        "l_shipdate": (start + rng.integers(1, 2500, m) * day).astype("datetime64[us]")}
    ev = n["events"]
    ts = np.sort(np.datetime64("2024-01-01T00:00:00", "us")
                 + rng.integers(0, 30 * 86400 * 10**6, ev).astype("timedelta64[us]"))
    tables["events"] = {
        "event_id": np.arange(ev, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, max(1, n["customer"] // 10), ev, dtype=np.int64),
        "event_type": np.array(["error", "signup", "purchase", "view", "click"])[
            rng.integers(0, 5, ev)],
        "value": np.round(rng.uniform(0.01, 490, ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ev)]}
    docs = []
    words = np.array(WORDS)
    for i in range(n["documents"]):
        if i >= 10 and rng.random() < 0.1:
            # near duplicate of an earlier document: a few words replaced
            base = docs[int(rng.integers(0, i))].split(" ")
            for j in rng.integers(0, len(base), 2):
                base[j] = words[rng.integers(0, len(words))]
            docs.append(" ".join(base))
        else:
            docs.append(" ".join(words[rng.integers(0, len(words),
                                                    int(rng.integers(8, 90)))]))
    tables["documents"] = {
        "doc_id": np.arange(n["documents"], dtype=np.int64),
        "text": docs,
        "lang": np.array(["en", "en", "en", "zh", "de", "es", "fr"])[
            rng.integers(0, 7, n["documents"])],
        "source": [f"src{s}" for s in rng.integers(0, 20, n["documents"])],
        "n_chars": np.array([len(d) for d in docs], dtype=np.int64)}
    emb = rng.normal(0, 0.12, (n["embeddings"], 64)).astype(np.float32)
    tables["embeddings"] = {
        "vec_id": np.arange(n["embeddings"], dtype=np.int64),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n["embeddings"], dtype=np.int32))}
    total = 0
    for name, cols in tables.items():
        t = pa.table(cols)
        total += t.num_rows
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return total
