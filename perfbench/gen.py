"""Seeded input generators for the benchmark.

Everything here is a pure function of its arguments: the same seed
writes byte-identical files. The program under test only ever sees
the files these functions write.

- ``xml_corpus``: a directory of XML documents in the reference
  tool's input shape, plus a manifest of the counts a correct
  conversion must produce.
- ``graph_tables``: the TPC-H-shaped parquet tables the node-graph
  store is built from, plus ``documents.parquet``.
- ``documents``: the text corpus the curation gates read.
"""

from __future__ import annotations

import datetime
import os
import random
import re

# (depth, fan-out) of the id-bearing tree under each document root.
# Sibling pairs grow with the square of fan-out, so the list spans
# flat-and-wide to deep-and-narrow; files cycle through it. Every
# structural choice (fan-out jitter, id-less elements, which attributes
# and references an element carries) is drawn from a generator seeded
# by the file's index alone, so the manifest's counts, and the work a
# conversion does, are equal across seeds; the seed moves ids, values,
# text and reference targets.
SHAPES = ((1, 12), (2, 4), (3, 3), (2, 7), (4, 2), (1, 5), (2, 3), (1, 20))
MALFORMED_EVERY = 25  # one file in 25 is truncated and must be reported

_WORDS = (
    "alpha beta gamma delta omega river stone cloud amber cedar maple "
    "north south quartz ember frost harbor meadow summit violet"
).split()

# the reference's id patterns (operators/relationships.py): a value
# matching either and naming a node of the same document is a reference
_ID_RE = re.compile(r"^[a-zA-Z_][a-zA-Z0-9_]*$|^[a-zA-Z0-9]+(-[a-zA-Z0-9]+)*$")


def _infer_type(v: str) -> str:
    """The reference's data_type inference rule (document_parser.rb)."""
    if not v:
        return "string"
    if re.match(r"^[0-9]+$", v):
        return "integer"
    if re.match(r"^[0-9]+\.[0-9]+$", v):
        return "float"
    if v.lower() in ("true", "false"):
        return "boolean"
    if re.match(r"^[0-9]{4}-[0-9]{2}-[0-9]{2}", v) or re.match(r"^[0-9]{2}:[0-9]{2}:[0-9]{2}", v):
        return "datetime"
    return "string"


def _attr_value(rng: random.Random, kind: int) -> str:
    if kind == 0:
        return str(rng.randint(0, 99999))
    if kind == 1:
        return f"{rng.randint(0, 999)}.{rng.randint(0, 99):02d}"
    if kind == 2:
        return rng.choice(("true", "false", "True", "FALSE"))
    if kind == 3:
        d = datetime.date(2020, 1, 1) + datetime.timedelta(days=rng.randint(0, 1500))
        return d.isoformat() if rng.random() < 0.7 else f"{d.isoformat()}T{rng.randint(0, 23):02d}:00:00"
    return " ".join(rng.choice(_WORDS) for _ in range(rng.randint(1, 3)))


def _escape(s: str) -> str:
    return s.replace("&", "&amp;").replace("<", "&lt;").replace('"', "&quot;")


def xml_corpus(out_dir: str, seed: int, n_files: int = 40) -> dict:
    """Write ``n_files`` XML documents to ``out_dir``; return the manifest.

    Ids are ``s<seed>d<file>n<k>``: unique across the corpus, and
    disjoint between corpora of different seeds.
    Each id-bearing element carries typed attributes, and some carry
    a same-document ``ref`` (resolves), a ``refs`` list (multi-valued;
    the default detector does not resolve it) or a ``missing`` ref
    (broken). Id-less ``note`` elements shift sibling positions and
    id-less ``group`` wrappers orphan their children's parent link.
    """
    rng = random.Random(f"xml|{seed}")
    os.makedirs(out_dir, exist_ok=True)
    m = {
        "documents": n_files, "malformed": 0, "nodes": 0,
        "properties": {}, "xrefs": {}, "multi_refs": 0, "broken_refs": 0,
        "xml_bytes": 0,
    }

    def add(d: dict, k: str, n: int = 1) -> None:
        d[k] = d.get(k, 0) + n

    for f in range(n_files):
        doc = f"s{seed}d{f}"
        path = os.path.join(out_dir, f"{doc}.xml")
        if f % MALFORMED_EVERY == MALFORMED_EVERY - 1:
            body = f'<?xml version="1.0"?>\n<catalog id="{doc}n0"><item id="{doc}n1" price="3"'
            m["malformed"] += 1
        else:
            shape = random.Random(f"xml-shape|{f}")
            body = _xml_document(rng, shape, doc, SHAPES[f % len(SHAPES)], m, add)
        data = body.encode()
        with open(path, "wb") as fh:
            fh.write(data)
        m["xml_bytes"] += len(data)
    return m


def _xml_document(rng, srng, doc, shape, m, add) -> str:
    """One document: ``srng`` draws its structure, ``rng`` its content."""
    depth, fan = shape
    ids: list[str] = []
    # element tree: (tag, id or None, attrs, text, children)
    counter = [0]

    def new_id() -> str:
        i = f"{doc}n{counter[0]}"
        counter[0] += 1
        ids.append(i)
        return i

    def build(level: int) -> tuple:
        el_id = new_id()
        kids = []
        if level < depth:
            for _ in range(max(1, fan + srng.randint(-1, 1)) if level else fan):
                kids.append(build(level + 1))
                if srng.random() < 0.15:
                    kids.append(("note", None, {}, rng.choice(_WORDS), []))
            if level == 1 and srng.random() < 0.3:
                # an id-less wrapper: its id-bearing children get parent_id NULL
                kids.append(("group", None, {}, "", [build(depth)]))
        tag = "catalog" if level == 0 else ("item" if level == depth else "section")
        text = " ".join(rng.choice(_WORDS) for _ in range(srng.randint(0, 4)))
        return (tag, el_id, {}, text, kids)

    root = build(0)

    # attributes once every id exists, so refs can point anywhere in the doc
    def annotate(el) -> None:
        tag, el_id, attrs, _, kids = el
        if el_id is not None:
            for kind in srng.sample(range(5), srng.randint(1, 3)):
                attrs[("num", "price", "active", "added", "label")[kind]] = _attr_value(rng, kind)
            r = srng.random()
            if r < 0.35:
                attrs["ref"] = rng.choice(ids)
            elif r < 0.45:
                attrs["missing"] = f"{doc}x{rng.randint(0, 999)}"
            if srng.random() < 0.2:
                attrs["refs"] = " ".join(rng.sample(ids, min(2, len(ids))))
        for k in kids:
            annotate(k)

    annotate(root)

    # expected counts, by the reference's rules
    def count(el, parent_id) -> None:
        tag, el_id, attrs, _, kids = el
        if el_id is not None:
            m["nodes"] += 1
            for name, v in attrs.items():
                add(m["properties"], _infer_type(v))
                if name == "refs":
                    m["multi_refs"] += 1
                elif _ID_RE.match(v) and v in id_set:
                    add(m["xrefs"], "attribute_reference")
                elif name == "missing":
                    m["broken_refs"] += 1
            if parent_id is not None:
                add(m["xrefs"], "parent_child")
                add(m["xrefs"], "child_parent")
        # siblings: id-bearing children of an id-bearing parent; position
        # counts every element child, so an id-less note breaks adjacency
        if el_id is not None:
            pos = [(i, k[1]) for i, k in enumerate(kids) if k[1] is not None]
            k = len(pos)
            if k > 1:
                add(m["xrefs"], "sibling", k * (k - 1))
            adj = sum(1 for (a, _), (b, _) in zip(pos, pos[1:]) if b == a + 1)
            if adj:
                add(m["xrefs"], "next_sibling", adj)
                add(m["xrefs"], "previous_sibling", adj)
        for kid in kids:
            count(kid, el_id)

    id_set = set(ids)
    count(root, None)

    def render(el, indent: str) -> str:
        tag, el_id, attrs, text, kids = el
        a = "".join(f' {k}="{_escape(v)}"' for k, v in (({"id": el_id} if el_id else {}) | attrs).items())
        inner = _escape(text) + "".join("\n" + render(k, indent + "  ") for k in kids)
        close = f"\n{indent}" if kids else ""
        return f"{indent}<{tag}{a}>{inner}{close}</{tag}>"

    return '<?xml version="1.0" encoding="UTF-8"?>\n' + render(root, "") + "\n"


# -- parquet inputs -------------------------------------------------------

_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_NATIONS = (
    "ALGERIA ARGENTINA BRAZIL CANADA EGYPT ETHIOPIA FRANCE GERMANY INDIA "
    "INDONESIA IRAN IRAQ JAPAN JORDAN KENYA MOROCCO MOZAMBIQUE PERU CHINA "
    "ROMANIA SAUDI_ARABIA VIETNAM RUSSIA UNITED_KINGDOM UNITED_STATES"
).split()
_DOC_WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
_LANGS = ("en", "en", "en", "zh", "es", "de", "fr")


def _write(table_rows: dict, schema, path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table(table_rows, schema=schema), path)


def graph_tables(out_dir: str, seed: int) -> None:
    """TPC-H-shaped tables (the node-graph store's input) plus documents.

    Column names and types match the tables the store build and the
    gates' oracle SQL read. Keys the gates name (order_7, customer_7,
    nation_5) always exist.
    """
    import pyarrow as pa

    rng = random.Random(f"tpch|{seed}")
    os.makedirs(out_dir, exist_ok=True)
    ts = pa.timestamp("us")
    epoch = datetime.datetime(1994, 1, 1)

    def day(n: int) -> datetime.datetime:
        return epoch + datetime.timedelta(days=n)

    _write({"r_regionkey": list(range(5)),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]},
           pa.schema([("r_regionkey", pa.int32()), ("r_name", pa.string())]),
           f"{out_dir}/region.parquet")
    _write({"n_nationkey": list(range(25)), "n_name": list(_NATIONS),
            "n_regionkey": [i % 5 for i in range(25)]},
           pa.schema([("n_nationkey", pa.int32()), ("n_name", pa.string()),
                      ("n_regionkey", pa.int32())]),
           f"{out_dir}/nation.parquet")
    ck = list(range(1, 61))
    _write({"c_custkey": ck, "c_name": [f"Customer#{k:09d}" for k in ck],
            "c_nationkey": [5 if k == 7 else rng.randrange(25) for k in ck],
            "c_acctbal": [round(rng.uniform(-999, 9999), 2) for _ in ck],
            "c_mktsegment": [rng.choice(_SEGMENTS) for _ in ck]},
           pa.schema([("c_custkey", pa.int64()), ("c_name", pa.string()),
                      ("c_nationkey", pa.int32()), ("c_acctbal", pa.float64()),
                      ("c_mktsegment", pa.string())]),
           f"{out_dir}/customer.parquet")
    sk = list(range(1, 11))
    _write({"s_suppkey": sk, "s_name": [f"Supplier#{k:09d}" for k in sk],
            "s_nationkey": [rng.randrange(25) for _ in sk],
            "s_acctbal": [round(rng.uniform(-999, 9999), 2) for _ in sk]},
           pa.schema([("s_suppkey", pa.int64()), ("s_name", pa.string()),
                      ("s_nationkey", pa.int32()), ("s_acctbal", pa.float64())]),
           f"{out_dir}/supplier.parquet")
    pk = list(range(1, 61))
    _write({"p_partkey": pk,
            "p_name": [" ".join(rng.sample(_WORDS, 3)) for _ in pk],
            "p_brand": ["Brand#23" if k % 7 == 0 else f"Brand#{rng.randint(1, 5)}{rng.randint(1, 5)}" for k in pk],
            "p_type": [rng.choice(("STANDARD", "SMALL", "MEDIUM", "LARGE")) + " BRASS" for _ in pk],
            "p_size": [7 if k % 14 == 0 else rng.randint(1, 50) for k in pk],
            "p_retailprice": [round(900 + k / 10 + rng.random(), 2) for k in pk]},
           pa.schema([("p_partkey", pa.int64()), ("p_name", pa.string()),
                      ("p_brand", pa.string()), ("p_type", pa.string()),
                      ("p_size", pa.int32()), ("p_retailprice", pa.float64())]),
           f"{out_dir}/part.parquet")
    ok = list(range(1, 301))
    o_cust = [7 if k % 50 == 7 else rng.choice(ck) for k in ok]
    _write({"o_orderkey": ok, "o_custkey": o_cust,
            "o_orderstatus": [rng.choice("FOP") for _ in ok],
            "o_totalprice": [round(rng.uniform(1000, 300000), 2) for _ in ok],
            "o_orderdate": [day(rng.randrange(2400)) for _ in ok],
            "o_orderpriority": [rng.choice(_PRIORITIES) for _ in ok]},
           pa.schema([("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
                      ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
                      ("o_orderdate", ts), ("o_orderpriority", pa.string())]),
           f"{out_dir}/orders.parquet")
    li = {k: [] for k in ("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
                          "l_quantity", "l_extendedprice", "l_discount", "l_tax",
                          "l_returnflag", "l_linestatus", "l_shipdate")}
    for o in ok:
        for ln in range(1, rng.randint(1, 7) + 1):
            q = float(rng.randint(1, 50))
            li["l_orderkey"].append(o)
            li["l_partkey"].append(rng.choice(pk))
            li["l_suppkey"].append(rng.choice(sk))
            li["l_linenumber"].append(ln)
            li["l_quantity"].append(q)
            li["l_extendedprice"].append(round(q * rng.uniform(900, 1100), 2))
            li["l_discount"].append(rng.randint(0, 10) / 100)
            li["l_tax"].append(rng.randint(0, 8) / 100)
            li["l_returnflag"].append(rng.choice("ANR"))
            li["l_linestatus"].append(rng.choice("FO"))
            li["l_shipdate"].append(day(rng.randrange(2500)))
    _write(li, pa.schema([("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
                          ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
                          ("l_quantity", pa.float64()), ("l_extendedprice", pa.float64()),
                          ("l_discount", pa.float64()), ("l_tax", pa.float64()),
                          ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
                          ("l_shipdate", ts)]),
           f"{out_dir}/lineitem.parquet")
    documents(out_dir, seed, n_docs=200)


def documents(out_dir: str, seed: int, n_docs: int = 400) -> None:
    """``documents.parquet``: random-word texts over a small vocabulary,
    one in twelve a near-copy of an earlier text (the dedup gates'
    positives)."""
    import pyarrow as pa

    rng = random.Random(f"docs|{seed}")
    os.makedirs(out_dir, exist_ok=True)
    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and i % 12 == 0:
            words = texts[rng.randrange(i)].split()
            words[rng.randrange(len(words))] = rng.choice(_DOC_WORDS)
            texts.append(" ".join(words) + " dup")
        else:
            texts.append(" ".join(rng.choice(_DOC_WORDS) for _ in range(rng.randint(8, 90))))
    _write({"doc_id": list(range(n_docs)), "text": texts,
            "lang": [rng.choice(_LANGS) for _ in texts],
            "source": [f"src{i % 10}" for i in range(n_docs)],
            "n_chars": [len(t) for t in texts]},
           pa.schema([("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
                      ("source", pa.string()), ("n_chars", pa.int64())]),
           f"{out_dir}/documents.parquet")
