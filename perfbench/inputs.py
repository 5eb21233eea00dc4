"""Seeded input generators and their oracles.

Everything here is a pure function of ``seed`` (and sizes), runs in the
benchmark's own process, and writes plain files (parquet / JSON) that the
program then reads through its public entry points. The program never sees
the seed.

* ``write_pages`` — the web-regime ``pages`` relation (FIXTURES.md §2) with
  an entity vocabulary of a few thousand names, Zipf-skewed mentions and
  near-duplicate spelling variants, wrapped in the repository's own HTML
  boilerplate so extracted text must equal ``pages.text`` byte for byte.
* ``write_aliases`` — the linker's alias table for that vocabulary.
* ``papers`` / ``write_papers`` — paper JSON (FIXTURES.md §1) with all five
  ``value`` classes, hot shared entities and up to 100 results per paper.
* ``paper_triples`` — the FIXTURES.md §4 cardinality oracle: the distinct
  ``(subj, pred, obj, obj_is_iri, obj_datatype)`` set the reference mapper
  emits for a batch, computed independently in plain Python.
* ``query_mix`` — the reader workload's seeded query list.
"""

from __future__ import annotations

import bisect
import datetime as dt
import itertools
import json
import math
import os
import random
import re

import pyarrow as pa
import pyarrow.parquet as pq

from extremexp_knowledge_graph_spark.sources.synthetic_pages import _render_html

NS = "http://extremexp.eu/ontology/matic_papers/"
RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
XSD = "http://www.w3.org/2001/XMLSchema#"

# ---------------------------------------------------------------------------
# web regime
# ---------------------------------------------------------------------------

_SYLLABLES = [
    "ka", "lo", "mir", "ve", "tan", "so", "rex", "qui", "dra", "nel", "pho", "zu",
    "bra", "cor", "dex", "fi", "gal", "hun", "ix", "jor", "mu", "nor", "pla", "sen",
]
_SUBJECTS = ["model", "system", "network", "pipeline", "encoder", "module", "agent", "dataset"]
_VERBS = ["is", "has", "contains", "includes", "uses", "implements"]
_OBJECTS = ["fast", "robust", "attention", "layers", "weights", "cache", "memory", "features"]
_FILLER = [
    "the results look promising overall",
    "we report numbers on the validation split",
    "training ran for twelve epochs",
    "see the appendix for details",
    "error bars denote one standard deviation",
]
_LANGS = ["en", "de", "es", "fr", "zh"]
_COMMON = set(_SUBJECTS + _VERBS + _OBJECTS + " ".join(_FILLER).split() + ["we", "compare", "with"])


def entity_vocab(seed: int, n: int, variant_frac: float = 0.2) -> list[str]:
    """``n`` distinct single-token entity names plus ``variant_frac·n``
    near-duplicate spellings (one doubled letter or two swapped letters) —
    the variants are what S3 canonicalization exists to merge."""
    rng = random.Random(seed * 7919 + 1)
    names: list[str] = []
    seen: set[str] = set()
    while len(names) < n:
        name = "".join(rng.choice(_SYLLABLES) for _ in range(rng.randint(2, 4)))
        if rng.random() < 0.3:
            name += str(rng.randint(1, 99))
        if name in seen or name in _COMMON:
            continue
        seen.add(name)
        names.append(name.capitalize())
    variants = []
    for base in rng.sample(names, int(n * variant_frac)):
        i = rng.randrange(1, len(base) - 1)
        if rng.random() < 0.5:
            v = base[:i] + base[i] + base[i:]
        else:
            v = base[:i] + base[i + 1] + base[i] + base[i + 2:]
        if v.lower() not in seen:
            seen.add(v.lower())
            variants.append(v)
    return names + variants


def _zipf_picker(rng: random.Random, items: list[str], s: float = 1.1):
    cum = list(itertools.accumulate(1.0 / (r ** s) for r in range(1, len(items) + 1)))
    total = cum[-1]
    return lambda: items[bisect.bisect_left(cum, rng.random() * total)]


def _page_text(rng: random.Random, pick, n_paras: int) -> str:
    paras = []
    for _ in range(n_paras):
        sents = []
        for _ in range(rng.randint(2, 6)):
            kind = rng.random()
            if kind < 0.35:
                sents.append(f"{rng.choice(_SUBJECTS)} {rng.choice(_VERBS)} {rng.choice(_OBJECTS)}")
            elif kind < 0.65:
                sents.append(f"{pick()} {rng.choice(_VERBS)} {rng.choice(_OBJECTS)}")
            elif kind < 0.8:
                sents.append(f"we compare {pick()} with {pick()}")
            else:
                sents.append(rng.choice(_FILLER))
        paras.append(". ".join(sents) + ".")
    return "\n\n".join(paras)


def write_pages(path: str, seed: int, n_pages: int, vocab: list[str], n_files: int = 4) -> None:
    """``pages(url, warc_ts, html, text, lang)`` as ``n_files`` parquet files.
    Mentions follow a Zipf law over a seed-shuffled vocabulary. Paragraph
    counts (2-5) follow a fixed schedule in seeded order, so every seed
    gives the corpus about the same amount of text."""
    rng = random.Random(seed)
    ranked = list(vocab)
    rng.shuffle(ranked)
    pick = _zipf_picker(rng, ranked)
    n_paras = [2 + i % 4 for i in range(n_pages)]
    rng.shuffle(n_paras)
    rows = {"url": [], "warc_ts": [], "html": [], "text": [], "lang": []}
    t0 = dt.datetime(2025, 1, 1, tzinfo=dt.timezone.utc)
    for i in range(n_pages):
        text = _page_text(rng, pick, n_paras[i])
        rows["url"].append(f"https://crawl.example.org/s{seed}/page/{i}")
        rows["warc_ts"].append(t0 + dt.timedelta(seconds=i))
        rows["html"].append(_render_html(text, i, rng).encode("utf-8"))
        rows["text"].append(text)
        rows["lang"].append(_LANGS[i % len(_LANGS)])
    schema = pa.schema(
        [("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")), ("html", pa.binary()),
         ("text", pa.string()), ("lang", pa.string())]
    )
    table = pa.Table.from_pydict(rows, schema=schema)
    os.makedirs(path, exist_ok=True)
    step = -(-n_pages // n_files)
    for f in range(n_files):
        pq.write_table(table.slice(f * step, step), os.path.join(path, f"part-{f}.parquet"))


def write_aliases(path: str, vocab: list[str], seed: int) -> None:
    """Alias table ``(alias, entity_id, prior, context)`` for S2."""
    rng = random.Random(seed * 31 + 7)
    rows = {"alias": [], "entity_id": [], "prior": [], "context": []}
    for name in vocab:
        rows["alias"].append(name.lower())
        rows["entity_id"].append(name)
        rows["prior"].append(round(rng.uniform(0.2, 1.0), 3))
        rows["context"].append(f"{name} {rng.choice(_SUBJECTS)} {rng.choice(_VERBS)} {rng.choice(_OBJECTS)}")
    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.Table.from_pydict(rows), os.path.join(path, "part-0.parquet"))


# ---------------------------------------------------------------------------
# paper regime
# ---------------------------------------------------------------------------

_TOPICS = ["vision", "graphs", "speech", "retrieval", "robotics", "translation", "tabular", "audio"]
_ADJ = ["Scalable", "Robust", "Efficient", "Sparse", "Deep", "Federated", "Causal", "Adaptive"]
_SPECIAL_DATASETS = [
    "CIFAR-10", "CIFAR 10", "ImageNet (1k)", "COCO: val2017", "A/B split", "D&D",
    "SST±2", "Müller-Korpus", "WMT'14 En→De", "100% synthetic", "%%%",
]
_METRICS = ["Accuracy", "F1", "BLEU", "mAP", "Top-1 Error", "EM"]


def _value(rng: random.Random) -> str:
    k = rng.randrange(6)
    if k == 0:
        return f"{rng.uniform(0, 100):.2f}"  # numeric
    if k == 1:
        return f"{rng.uniform(0, 100):.1f}%"  # percent
    if k == 2:
        return f"{rng.randint(1, 999)}M"  # alnum-suffixed
    if k == 3:
        return f"{rng.randint(1, 60)} ± {rng.randint(1, 9)}"  # plus-minus
    if k == 4:
        return rng.choice(["YES", "NO", "n/a"])  # free text
    return f"0.{rng.randint(100, 999)}"


def papers(seed: int, n: int) -> list[dict]:
    """``n`` papers. Result counts are the quantiles of an exponential law
    (mean 18, capped at 100) in seeded order, so every seed gives the batch
    the same number of results."""
    pools = random.Random(seed * 104729 + 3)
    n_results = [min(100, int(-18 * math.log(1 - (j + 0.5) / n))) for j in range(n)]
    pools.shuffle(n_results)
    tasks = [f"Task {t}" for t in range(60)] + ["Image Classification", "Q&A"]
    datasets = [f"Set{d}" for d in range(120)] + _SPECIAL_DATASETS
    methods = ["Adam"] + [f"Method {m}" for m in range(80)]
    models = [f"{pools.choice(_ADJ)}Net-{m}" for m in range(300)]
    out = []
    for i in range(n):
        rng = random.Random((seed << 24) ^ i)
        pick_t, pick_d = _zipf_picker(rng, tasks), _zipf_picker(rng, datasets, 0.8)
        pick_m = _zipf_picker(rng, models, 0.9)
        year = rng.randint(2015, 2024)
        p: dict = {}
        if i % 97 != 13:  # some papers carry no title at all (→ Paper_Unknown)
            p["title"] = f"{rng.choice(_ADJ)} {rng.choice(_TOPICS)} with {rng.choice(methods)} {i}"
        if i % 11 != 5:
            p["year"] = 0 if i % 23 == 4 else year
        r = rng.random()
        if r < 0.7:
            p["url"] = f"https://arxiv.org/pdf/{year % 100:02d}{rng.randint(1, 12):02d}.{i:05d}v{rng.randint(1, 3)}.pdf"
        elif r < 0.9:
            p["url"] = f"https://example.org/papers/{year}/p{i}.pdf"
        if i % 7 != 3:
            p["origin"] = f"https://paperswithcode.com/paper/p{i}"
        p["tasks"] = sorted({pick_t() for _ in range(min(20, int(rng.expovariate(0.4))))})
        p["datasets"] = sorted({pick_d() for _ in range(min(35, int(rng.expovariate(0.25))))})
        ms = {rng.choice(methods) for _ in range(min(19, int(rng.expovariate(0.4))))}
        if rng.random() < 0.8:
            ms.add("Adam")
        p["methods"] = sorted(ms)
        res = []
        for _ in range(n_results[i]):
            e = {
                "task": pick_t() if rng.random() < 0.9 else "",
                "dataset": pick_d() if rng.random() < 0.9 else "",
                "model": pick_m(),
                "metric": rng.choice(_METRICS),
                "value": _value(rng),
                "rank": str(rng.randint(1, 50)) if rng.random() < 0.85 else rng.choice(["-", "n/a", "1.5"]),
            }
            if rng.random() < 0.05:
                del e["metric"]
            res.append(e)
        p["results"] = res
        for key, mod, rem in (("tasks", 13, 7), ("datasets", 17, 9), ("methods", 19, 11)):
            if i % mod == rem:  # every optional list is missing somewhere
                del p[key]
        if not res and i % 2:
            del p["results"]
        out.append(p)
    return out


def write_papers(path: str, batch: list[dict], per_file: int = 50) -> None:
    os.makedirs(path, exist_ok=True)
    for f in range(0, len(batch), per_file):
        with open(os.path.join(path, f"papers-{f // per_file:04d}.json"), "w", encoding="utf-8") as fh:
            json.dump(batch[f:f + per_file], fh, ensure_ascii=False)


_STRIP_SPECIAL = re.compile(r"[^\w\s-]")
_COLLAPSE = re.compile(r"[-\s]+")
_ARXIV = re.compile(r"arxiv\.org/pdf/(\d{2})(\d{2})\.\d+", re.IGNORECASE)
_YEAR = re.compile(r"\b(19\d{2}|20\d{2})\b")


def _san(text: str | None) -> str:
    if not text:
        return "unknown"
    cleaned = _COLLAPSE.sub("_", _STRIP_SPECIAL.sub("", text.strip()))
    return cleaned or "sanitized_empty"


def _url_year(url: str) -> str | None:
    m = _ARXIV.search(url)
    if m and 1 <= int(m.group(2)) <= 12:
        yy = int(m.group(1))
        return str(1900 + yy if yy >= 90 else 2000 + yy)
    years = _YEAR.findall(url)
    return years[-1] if years else None


def _int_or_none(s: str) -> str | None:
    try:
        return str(int(s))
    except ValueError:
        return None


def paper_triples(batch: list[dict]) -> set[tuple]:
    """Distinct ``(subj, pred, obj, obj_is_iri, obj_datatype)`` the reference
    mapper emits for ``batch`` (FIXTURES.md §4). Metric values collapse to
    one triple per truthy value whatever its class, so the oracle needs the
    value class only to choose the datatype."""
    out: set[tuple] = set()
    add = out.add
    s_str, s_uri, s_year = XSD + "string", XSD + "anyURI", XSD + "gYear"

    def entity(cls: str, name: str, name_pred: str, typed: bool) -> str:
        uri = f"{NS}{cls}_{_san(name)}"
        add((uri, RDF_TYPE, NS + cls, True, None))
        add((uri, NS + name_pred, name, False, s_str if typed else None))
        return uri

    for p in batch:
        title = p.get("title")
        san = _san(title if title is not None else "Unknown")
        subj = NS + "Paper_" + san
        add((subj, RDF_TYPE, NS + "Paper", True, None))
        if title:
            add((subj, NS + "paperTitle", title, False, s_str))
        url = p.get("url")
        if url:
            add((subj, NS + "pdfUrl", url, False, s_uri))
            y = _url_year(url)
            if y is not None:
                add((subj, NS + "year", y, False, s_year))
        if p.get("year"):
            add((subj, NS + "year", str(p["year"]), False, s_year))
        if p.get("origin"):
            add((subj, NS + "papersWithCodeUrl", p["origin"], False, s_uri))
        for key, cls, name_pred, link in (
            ("tasks", "Task", "taskName", "mentionsTask"),
            ("datasets", "Dataset", "datasetName", "mentionsDataset"),
            ("methods", "Method", "methodName", "employsMethod"),
        ):
            for name in p.get(key) or []:
                add((subj, NS + link, entity(cls, name, name_pred, True), True, None))
        for idx, r in enumerate(p.get("results") or []):
            ruri = f"{NS}{san}_result_{idx}"
            add((ruri, RDF_TYPE, NS + "ReportedResult", True, None))
            add((subj, NS + "reportsResult", ruri, True, None))
            add((ruri, NS + "reportedInPaper", subj, True, None))
            if r.get("metric"):
                add((ruri, NS + "metricName", r["metric"], False, s_str))
            v = r.get("value")
            if v:
                add((ruri, NS + "metricValue", *_value_literal(v)))
            if r.get("rank") and _int_or_none(r["rank"]) is not None:
                add((ruri, NS + "rank", _int_or_none(r["rank"]), False, XSD + "integer"))
            if r.get("task"):
                add((ruri, NS + "evaluatesTask", entity("Task", r["task"], "taskName", False), True, None))
            if r.get("dataset"):
                add((ruri, NS + "onDataset", entity("Dataset", r["dataset"], "datasetName", False), True, None))
            if r.get("model"):
                add((ruri, NS + "achievedByModel",
                     entity("ModelConfiguration", r["model"], "configurationString", True), True, None))
    return out


def _value_literal(v: str) -> tuple[str, bool, str]:
    """src/utils.py:322-334: percent first, then float(), else the string."""
    try:
        if "%" in v:
            return str(float(v.replace("%", "").strip()) / 100.0), False, XSD + "decimal"
        return str(float(v)), False, XSD + "decimal"
    except ValueError:
        return v, False, XSD + "string"


# ---------------------------------------------------------------------------
# reader workload
# ---------------------------------------------------------------------------

#: one block of the reader mix; every block has this composition, so any
#: prefix of whole blocks exercises the kinds in the same proportion
BLOCK = ("paper_details",) * 4 + ("entity_view", "count_by_predicate", "degree_topk")


def query_mix(seed: int, batch: list[dict], n_blocks: int = 16) -> list[tuple[str, dict]]:
    """``n_blocks·len(BLOCK)`` query specs ``(kind, params)``: paper_details
    title filters drawn from title words, entity point lookups drawn from
    entities the batch mentions, and the two whole-store aggregates."""
    rng = random.Random(seed * 613 + 11)
    words = sorted({w.lower() for p in batch if p.get("title") for w in p["title"].split()[:2]})
    ents = sorted(
        {("Dataset", "datasetName", d) for p in batch for d in p.get("datasets") or []}
        | {("Task", "taskName", t) for p in batch for t in p.get("tasks") or []}
    )
    mix = []
    for _ in range(n_blocks):
        block = list(BLOCK)
        rng.shuffle(block)
        for kind in block:
            if kind == "paper_details":
                mix.append((kind, {"title_contains": rng.choice(words)}))
            elif kind == "entity_view":
                cls, pred, name = rng.choice(ents)
                mix.append((kind, {"cls": NS + cls, "pred": NS + pred, "iri": f"{NS}{cls}_{_san(name)}"}))
            elif kind == "degree_topk":
                mix.append((kind, {"k": 10}))
            else:
                mix.append((kind, {}))
    return mix
