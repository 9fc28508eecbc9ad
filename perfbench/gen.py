"""Seeded input generator for the subgraph benchmark.

Writes GrEBI-shaped inputs (subgraph config JSON, datasource YAMLs, a prefix
map, and JSONL / KGX-edge / TSV / SSSOM data files) for one workload and one
seed, plus ``expected.json``: the outputs the build must produce, worked out
here in closed form from the generator's own model. The program under test
only ever sees the input directory; ``expected.json`` is read by the
benchmark's checker.

The same (workload, seed, scale) always gives byte-identical files.

    python3 perfbench/gen.py <workload> <seed> <out_dir> [scale]
"""

import bisect
import hashlib
import itertools
import json
import os
import random
import sys

# Entity id families. The canonical pick prefers more letters, so in a mixed
# clique the 4-letter families win and ties go to the smallest id.
FAMILIES = ["GENE", "PROT", "DIS", "CHEM", "PHEN", "PWAY"]
# Prefixed values that normalise to CURIEs which are never node ids.
NONID_FAMILIES = ["ANAT", "TAXO", "UNIT"]
WORDS = [
    "kinase", "receptor", "ligand", "channel", "helix", "binding", "domain",
    "factor", "sodium", "calcium", "zinc", "finger", "oxidase", "reductase",
    "transport", "membrane", "nuclear", "protease", "synthase", "ribosome",
    "cortex", "retina", "marrow", "plasma", "lipid", "sterol", "glycan",
    "lectin", "opsin", "myosin", "actin", "tubulin", "collagen", "keratin",
    "insulin", "leptin", "ghrelin", "orexin", "amylase", "lipase",
]
ID_PROPS = ["bench:xref", "skos:exactMatch"]
KGX_PREDICATES = ["biolink:interacts_with", "biolink:related_to",
                  "biolink:part_of", "biolink:causes"]
EDGE_EXCLUDED = {"grebi:type", "grebi:name"}

# Workload shapes. Counts are at scale 1; `scale` multiplies entity counts.
# `batch_records` > 0 adds one update batch (new entities, merges of two
# existing cliques, enrichments) with read probes, for the traced run's
# incremental and read layers. Most values are assumptions; NOTES.md
# ("Where the traffic values come from") gives the source or the reason
# for each.
WORKLOADS = {
    # Heavy per-record work, shallow cliques: many props, most string values
    # prefixed, a share of values naming other nodes (mild Zipf, few hubs).
    "build-wide": dict(
        entities=1800, typed_sources=3, kgx_sources=1, sssom_sources=1,
        records_per_entity=(1, 3), extra_ids=(0, 1), props=(12, 20),
        key_pool=48, share_id=0.22, share_pfx=0.55, zipf_s=0.9, hubs=4,
        hub_share=0.03, kgx_per_entity=1.0, sssom_per_entity=0.3,
        chain_len=None, hot_share=0.0,
        batch_records=40, batch_mix=(0.5, 0.25, 0.25), lookups=8, searches=3),
    # Identity work dominates: few props, ids chained through identifier
    # props and SSSOM rows into long paths, one hot clique.
    "build-deep": dict(
        entities=1000, typed_sources=2, kgx_sources=1, sssom_sources=1,
        props=(1, 2), key_pool=6, share_id=0.5, share_pfx=0.3, zipf_s=0.9, hubs=2,
        hub_share=0.02, kgx_per_entity=0.2, chain_len=(2, 8), hot_share=0.12, hot_arity=8,
        batch_records=0),
}

TYPED_FORMATS = ["jsonl", "tsv"]
SOURCE_TYPES = ["biolink:Gene", "biolink:Protein", "biolink:Disease",
                "biolink:ChemicalEntity", "biolink:PhenotypicFeature",
                "biolink:Pathway"]


def canon(fam, n):
    return "%s:%07d" % (fam, n)


def prefix_map():
    m = {"bench:": "bench:"}
    for fam in FAMILIES + NONID_FAMILIES:
        m[fam.lower() + ":"] = fam + ":"
        m["http://purl.example.org/obo/%s_" % fam] = fam + ":"
        m["https://identifiers.example.org/%s/" % fam.lower()] = fam + ":"
    return m


def raw(rng, curie):
    """One of the spellings of `curie` that the prefix map normalises back."""
    fam, local = curie.split(":", 1)
    r = rng.random()
    if r < 0.3:
        return curie
    if r < 0.55:
        return fam.lower() + ":" + local
    if r < 0.8:
        return "http://purl.example.org/obo/%s_%s" % (fam, local)
    return "https://identifiers.example.org/%s/%s" % (fam.lower(), local)


def id_score(i):
    # Ids.idScore: curie-like (':' and not http) -1000, minus one per letter
    s = -1000 if (":" in i and not i.startswith("http")) else 0
    return s - sum(1 for c in i if c.isascii() and c.isalpha())


def pick_canonical(ids):
    return min(ids, key=lambda i: (id_score(i), i.encode("utf-8")))


def h60(s):
    return int(hashlib.sha256(s.encode("utf-8")).hexdigest()[:15], 16)


def set_hash(strings):
    """Order-independent hash of a set of strings: the exact sum of the
    first 60 bits of each SHA-256 (the checker computes the same in Spark)."""
    return str(sum(h60(s) for s in set(strings)))


class UnionFind:
    def __init__(self):
        self.p = {}

    def find(self, x):
        p = self.p
        p.setdefault(x, x)
        root = x
        while p[root] != root:
            root = p[root]
        while p[x] != root:
            p[x], x = root, p[x]
        return root

    def union(self, a, b):
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            self.p[ra] = rb


class Record:
    """One ingest record in normalised form. `props` holds
    (key, value, qualifiers) with qualifiers a sorted tuple of pairs."""
    __slots__ = ("ds", "ids", "typed", "name", "props")

    def __init__(self, ds, ids, typed, name, props):
        self.ds, self.ids, self.typed, self.name = ds, ids, typed, name
        self.props = props

    def id_set(self):
        return self.ids + [v for k, v, _ in self.props if k in ID_PROPS]


class Model:
    """Closed form of the build: cliques, canonicals, nodes, edges."""

    def __init__(self):
        self.uf = UnionFind()
        self.records = []

    def add(self, recs):
        for r in recs:
            s = r.id_set()
            for i in s:
                self.uf.union(s[0], i)
            self.records.append(r)

    def state(self):
        members = {}
        for r in self.records:
            for i in r.id_set():
                members.setdefault(self.uf.find(i), set()).add(i)
        canon_of_root = {root: pick_canonical(ms) for root, ms in members.items()}
        canonical = {i: canon_of_root[root]
                     for root, ms in members.items() for i in ms}
        nodes = {}
        for r in self.records:
            c = canonical[r.ids[0]]
            n = nodes.setdefault(c, {"typed": False, "ids": set(), "names": set(),
                                     "asserts": set()})
            n["typed"] |= r.typed
            n["ids"].update(r.ids)
            if r.name is not None:
                n["names"].add(r.name)
            for k, v, q in r.props:
                n["asserts"].add((k, canonical.get(v, v), q))
        nodes = {c: n for c, n in nodes.items() if n["typed"]}
        return canonical, nodes

    @staticmethod
    def edges(nodes):
        out = set()
        for c, n in nodes.items():
            for k, v, q in n["asserts"]:
                if k not in EDGE_EXCLUDED and v != c and v in nodes:
                    out.add((c, k, v, q))
        return out

    @staticmethod
    def expect(nodes):
        edges = Model.edges(nodes)
        pairs = ["%s\t%s" % (i, c) for c, n in nodes.items() for i in n["ids"]]
        return {
            "nodes": len(nodes),
            "member_pairs": len(pairs),
            "member_hash": set_hash(pairs),
            "edge_rows": len(edges),
            "edge_hash": set_hash("%s\t%s\t%s" % e[:3] for e in edges),
        }


def zipf_picker(rng, n, s, hubs, hub_share):
    """Targets drawn from a mild Zipf over `n` entities (rank order shuffled
    by the seed), with `hubs` entities taking `hub_share` each on top."""
    order = list(range(n))
    rng.shuffle(order)
    weights = [1.0 / (r + 1) ** s for r in range(n)]
    total = sum(weights)
    hub_w = total * hub_share / max(1e-9, 1 - hub_share * hubs)
    for h in range(hubs):
        weights[h] += hub_w
    cum = list(itertools.accumulate(weights))

    def pick(k):
        return [order[min(n - 1, bisect.bisect_left(cum, rng.random() * cum[-1]))]
                for _ in range(k)]
    return pick


def _spread(i, rate):
    """How many of `rate` per item fall on item i, spread evenly."""
    return int((i + 1) * rate) - int(i * rate)


class Gen:
    def __init__(self, workload, seed, scale):
        self.w = dict(WORKLOADS[workload])
        self.rng = random.Random("%s:%d" % (workload, seed))
        self.scale = scale
        self.next_local = 1
        self.sources = []
        w = self.w
        n_typed = w["typed_sources"]
        for i in range(n_typed):
            fmt = TYPED_FORMATS[i % len(TYPED_FORMATS)]
            self.sources.append(dict(name="ds%d_%s" % (i, fmt), fmt=fmt,
                                     type=SOURCE_TYPES[i % len(SOURCE_TYPES)],
                                     upper_keys=(i % 2 == 1)))
        for i in range(w["kgx_sources"]):
            self.sources.append(dict(name="kgx%d" % i, fmt="kgx"))
        for i in range(w["sssom_sources"]):
            self.sources.append(dict(name="sssom%d" % i, fmt="sssom"))
        self.typed = [s for s in self.sources if s["fmt"] in TYPED_FORMATS]
        self.keys = ["bench:f%02d" % k for k in range(w["key_pool"])]
        self.counter = 0

    def cycle(self, lo, hi):
        """Counts cycle through lo..hi instead of being drawn, so every seed
        gives the same amount of work; the seed decides the contents."""
        self.counter += 1
        return lo + self.counter % (hi - lo + 1)

    # -- ids -------------------------------------------------------------
    def new_id(self):
        fam = FAMILIES[self.rng.randrange(len(FAMILIES))]
        # spread locals so numeric order says nothing about structure
        n = self.next_local * 7919 % 9999991
        self.next_local += 1
        return canon(fam, n)

    def name(self):
        r = self.rng
        return "%s %s %d" % (r.choice(WORDS), r.choice(WORDS), r.randrange(1000))

    def text(self):
        r = self.rng
        return "%s-%s %d" % (r.choice(WORDS), r.choice(WORDS), r.randrange(100000))

    def nonid(self):
        return canon(self.rng.choice(NONID_FAMILIES), self.rng.randrange(200000))

    # -- entities --------------------------------------------------------
    def entities(self, n):
        """Each entity: (primary id, all ids, chain links). Chain links are
        (a, b) id pairs joined through an identifier prop or SSSOM row."""
        w, r = self.w, self.rng
        ents = []
        if w["chain_len"] is None:
            for _ in range(n):
                ids = [self.new_id() for _ in range(1 + self.cycle(*w["extra_ids"]))]
                ents.append((ids, []))
            return ents
        total_ids = 0
        for _ in range(n):
            ids = [self.new_id() for _ in range(self.cycle(*w["chain_len"]))]
            ents.append((ids, list(zip(ids, ids[1:]))))
            total_ids += len(ids)
        # the hot clique: a tree of equivalences over random ids, each id
        # linked to its parent, `hot_arity` children per parent
        hot = int(total_ids * w["hot_share"] / (1 - w["hot_share"]))
        ids = [self.new_id() for _ in range(hot)]
        k = w["hot_arity"]
        ents.append((ids, [(ids[j], ids[(j - 1) // k]) for j in range(1, hot)]))
        return ents

    def props_for(self, ents, pick, k_props, keys):
        """Prop list for one record: values are text, prefixed non-ids, or
        ids of other entities (Zipf-chosen)."""
        w, r = self.w, self.rng
        props = []
        targets = pick(k_props)
        for j in range(k_props):
            key = keys[r.randrange(len(keys))]
            x = r.random()
            if x < w["share_id"]:
                tids = ents[targets[j]][0]
                props.append((key, tids[r.randrange(len(tids))], ()))
            elif x < w["share_id"] + w["share_pfx"]:
                props.append((key, self.nonid(), ()))
            else:
                props.append((key, self.text(), ()))
        return props

    def corpus(self, ents):
        """All records for a set of entities."""
        w, r = self.w, self.rng
        pick = zipf_picker(r, len(ents), w["zipf_s"], w["hubs"], w["hub_share"])
        recs = []
        sssom_src = [s for s in self.sources if s["fmt"] == "sssom"]
        kgx_src = [s for s in self.sources if s["fmt"] == "kgx"]
        for e_idx, (ids, links) in enumerate(ents):
            if links:
                # one record per chain element; the link to its successor is
                # an identifier prop (typed records) or an SSSOM row
                linked = {a: b for a, b in links}
                for j, i in enumerate(ids):
                    props = self.props_for(ents, pick, self.cycle(*w["props"]), self.keys)
                    nxt = linked.get(i)
                    if nxt is not None and sssom_src and j % 2:
                        recs.append(self.sssom_record(r.choice(sssom_src), i, nxt))
                    elif nxt is not None:
                        props.append(("bench:xref", nxt, ()))
                    src = self.typed[(e_idx + j) % len(self.typed)]
                    recs.append(Record(src["name"], [i], True, self.name(), props))
            else:
                n_rec = self.cycle(*w["records_per_entity"])
                srcs = r.sample(self.typed, min(n_rec, len(self.typed)))
                for s_i, src in enumerate(srcs):
                    # the first record lists every id; later ones a subset
                    rid = ids if s_i == 0 else [ids[r.randrange(len(ids))]]
                    props = self.props_for(ents, pick, self.cycle(*w["props"]), self.keys)
                    recs.append(Record(src["name"], list(rid), True, self.name(), props))
                if len(ids) > 1 and sssom_src and _spread(e_idx, w["sssom_per_entity"]):
                    recs.append(self.sssom_record(r.choice(sssom_src), ids[0], ids[-1]))
            for _ in range(_spread(e_idx, w["kgx_per_entity"]) if kgx_src else 0):
                tids = ents[pick(1)[0]][0]
                recs.append(self.kgx_record(r.choice(kgx_src), ids[r.randrange(len(ids))],
                                            r.choice(KGX_PREDICATES),
                                            tids[r.randrange(len(tids))]))
        return recs

    def kgx_record(self, src, subj, pred, obj):
        q = (("knowledge_source", ("infores:" + src["name"],)),)
        return Record(src["name"], [subj], False, None, [(pred, obj, q)])

    def sssom_record(self, src, subj, obj):
        q = (("mapping_justification", ("semapv:LexicalMatching",)),)
        return Record(src["name"], [subj], False, None, [("skos:exactMatch", obj, q)])


# ---------------------------------------------------------------- writing

def write_inputs(g, recs, out, batch):
    """Render the corpus (one file per datasource), the update batch, the
    datasource YAMLs, the prefix map and the subgraph config under `out`."""
    by_src = {}
    for rec in recs:
        by_src.setdefault(rec.ds, []).append(rec)
    upd = dict(name="updates", fmt="jsonl", type=SOURCE_TYPES[0])
    files = [(src, "data/%s/%s.%s" % (src["name"], src["name"], EXT[src["fmt"]]),
              by_src.get(src["name"], [])) for src in g.sources]
    if batch is not None:
        files.append((upd, "batches/batch-0001.jsonl", batch))
    for src, rel, rows in files:
        os.makedirs(os.path.dirname(os.path.join(out, rel)), exist_ok=True)
        with open(os.path.join(out, rel), "w", encoding="utf-8", newline="\n") as f:
            f.write(render(g, src, rows))
    os.makedirs(os.path.join(out, "datasources"), exist_ok=True)
    for src, rel, _ in files:
        with open(os.path.join(out, "datasources", src["name"] + ".yaml"), "w",
                  encoding="utf-8", newline="\n") as f:
            f.write(yaml_for(src, rel))
    with open(os.path.join(out, "prefix_map.json"), "w", encoding="utf-8") as f:
        json.dump(prefix_map(), f, indent=1, sort_keys=True)
        f.write("\n")
    config = {"name": "bench", "identifier_props": ID_PROPS,
              "datasource_configs": ["datasources/%s.yaml" % s["name"] for s in g.sources]}
    with open(os.path.join(out, "config.json"), "w", encoding="utf-8") as f:
        json.dump(config, f, indent=1)
        f.write("\n")


EXT = {"jsonl": "jsonl", "kgx": "jsonl", "tsv": "tsv", "sssom": "sssom.tsv"}


def yaml_for(src, glob):
    fmt = src["fmt"]
    if fmt == "jsonl":
        cmd = ("grebi_transform_jsonl --json-inject-type %s "
               "--json-rename-field label:grebi:name" % src["type"])
    elif fmt == "tsv":
        cmd = ('grebi_tsv2jsonl --tsv-array-delimiter "|" | grebi_transform_jsonl '
               "--json-inject-type %s --json-rename-field label:grebi:name" % src["type"])
    elif fmt == "kgx":
        cmd = "grebi_ingest_kgx_edges"
    else:
        cmd = "grebi_ingest_sssom"
    return ("name: %s\nenabled: true\ningests:\n- globs: [\"%s\"]\n  command: '%s'\n"
            % (src["name"], glob, cmd))


def render(g, src, recs):
    r = g.rng
    fmt = src["fmt"]
    upper = src.get("upper_keys", False)

    def k(key):
        return "BENCH:" + key[len("bench:"):] if upper and key.startswith("bench:") else key

    def v(val):
        fam = val.split(":", 1)[0]
        return raw(r, val) if fam in FAMILIES or fam in NONID_FAMILIES else val

    lines = []
    if fmt == "jsonl":
        for rec in recs:
            o = {"id": [v(i) for i in rec.ids], "label": rec.name}
            for key, val, _ in rec.props:
                o.setdefault(k(key), []).append(v(val))
            lines.append(json.dumps(o, separators=(",", ":")))
        return "".join(l + "\n" for l in lines)
    if fmt == "tsv":
        cols = sorted({k(key) for rec in recs for key, _, _ in rec.props})
        out = ["\t".join(["id", "label"] + cols)]
        for rec in recs:
            cells = {}
            for key, val, _ in rec.props:
                cells.setdefault(k(key), []).append(v(val))
            out.append("\t".join(["|".join(v(i) for i in rec.ids), rec.name] +
                                 ["|".join(cells.get(c, [])) for c in cols]))
        return "".join(l + "\n" for l in out)
    if fmt == "kgx":
        for rec in recs:
            (pred, obj, q), = rec.props
            lines.append(json.dumps({"subject": v(rec.ids[0]), "predicate": pred,
                                     "object": v(obj), "knowledge_source": q[0][1][0]},
                                    separators=(",", ":")))
        return "".join(l + "\n" for l in lines)
    # sssom: IRIs contracted through the file's own curie map
    out = ["# curie_map:"]
    out += ["#   %s: http://purl.example.org/obo/%s_" % (f, f) for f in FAMILIES]
    out.append("subject_id\tpredicate_id\tobject_id\tmapping_justification")
    for rec in recs:
        (pred, obj, q), = rec.props
        out.append("\t".join([v(rec.ids[0]), pred, v(obj), q[0][1][0]]))
    return "".join(l + "\n" for l in out)


# ------------------------------------------------------------- workloads

def dims_of(g, recs, canonical, nodes, extra):
    typed = [x for x in recs if x.typed]
    values = [v for x in typed for _, v, _ in x.props]
    fams = lambda v: v.split(":", 1)[0]
    sizes = sorted(len(n["ids"]) for n in nodes.values())
    clique_ids = {}
    for i, c in canonical.items():
        clique_ids[c] = clique_ids.get(c, 0) + 1
    ids_total = len(canonical)
    largest = max(clique_ids.values()) if clique_ids else 0
    d = {
        "records": len(recs),
        "datasources": len(g.sources),
        "formats": sorted({s["fmt"] for s in g.sources}),
        "props_per_record": round(len(values) / max(1, len(typed)), 3),
        "prefixed_value_share": round(sum(1 for v in values if fams(v) in FAMILIES + NONID_FAMILIES)
                                      / max(1, len(values)), 3),
        "id_valued_share": round(sum(1 for v in values if v in canonical) / max(1, len(values)), 3),
        "ids": ids_total,
        "clique_size_mean": round(ids_total / max(1, len(clique_ids)), 3),
        "clique_size_p50": _pct(sorted(clique_ids.values()), 0.5),
        "clique_size_p99": _pct(sorted(clique_ids.values()), 0.99),
        "hot_clique_share": round(largest / max(1, ids_total), 4),
        "source_ids_per_node_max": sizes[-1] if sizes else 0,
    }
    d.update(extra)
    return d


def _pct(xs, q):
    return xs[min(len(xs) - 1, int(q * len(xs)))] if xs else 0


def probe_set(g, nodes, changed=(), retired=()):
    """Lookup probes (changed cliques first, then random live nodes) and
    search probes, each with its expected answer in the state `nodes`."""
    w, r = g.w, g.rng
    live = sorted(nodes)
    keys = list(changed[: w["lookups"] // 2]) + list(retired[:2])
    while len(keys) < w["lookups"]:
        keys.append(live[r.randrange(len(live))])
    lookups = [[k, sorted(nodes[k]["ids"]) if k in nodes else None] for k in keys]
    searches = []
    for _ in range(w["searches"]):
        term = r.choice(WORDS)
        total = sum(1 for c, n in nodes.items()
                    if term in min(n["names"]).lower() or term in c.lower())
        searches.append([term, total])
    return {"nodes": len(nodes), "lookups": lookups, "searches": searches}


def make_batch(g, ents, model, canonical):
    """One small keyed batch (new entities, merges of two existing cliques,
    enrichments of one) with probes of the state after it. `model` holds
    the corpus, `canonical` its id -> canonical map; the batch is added."""
    w, r = g.w, g.rng
    pick = zipf_picker(r, len(ents), w["zipf_s"], w["hubs"], w["hub_share"])
    p_add, p_merge, _ = w["batch_mix"]
    recs = []
    for _ in range(w["batch_records"]):
        x = r.random()
        props = g.props_for(ents, pick, r.randint(*w["props"]), g.keys)
        if x < p_add:
            ids = [g.new_id()]
        else:
            a = ents[r.randrange(len(ents))][0]
            ids = [a[r.randrange(len(a))]]
            if x < p_add + p_merge:
                c = ents[r.randrange(len(ents))][0]
                props.append(("bench:xref", c[r.randrange(len(c))], ()))
        recs.append(Record("updates", ids, True, g.name(), props))
    model.add(recs)
    after, nodes = model.state()
    batch_ids = {i for rec in recs for i in rec.id_set()}
    changed = sorted({after[i] for i in batch_ids})
    retired = sorted({canonical[i] for i in batch_ids if i in canonical} - set(after.values()))
    p = probe_set(g, nodes, changed, retired)
    p["key"] = "batch-0001"
    dims = {"batch_records": w["batch_records"],
            "batch_mix_add_merge_enrich": list(w["batch_mix"]),
            "batch_touched_clique_share": round(len(changed) / p["nodes"], 5)}
    return recs, p, dims


def gen_workload(g, out):
    w = g.w
    ents = g.entities(max(2, int(w["entities"] * g.scale)))
    recs = g.corpus(ents)
    m = Model()
    m.add(recs)
    canonical, nodes = m.state()
    exp = {"corpus": Model.expect(nodes)}
    exp["corpus"]["records"] = len(recs)
    chains = sorted(len(ids) for ids, links in ents if links)
    extra = {}
    if chains:
        extra.update({"chain_len_mean": round(sum(chains) / len(chains), 3),
                      "chain_len_p50": _pct(chains, 0.5), "chain_len_max": chains[-1]})
    exp["dims"] = dims_of(g, recs, canonical, nodes, extra)
    batch = None
    if w["batch_records"]:
        batch, exp["batch"], bdims = make_batch(g, ents, m, canonical)
        exp["dims"].update(bdims)
    write_inputs(g, recs, out, batch)
    return exp


def generate(workload, seed, out_dir, scale=1.0):
    """Write inputs under out_dir/inputs and expectations to
    out_dir/expected.json; return the expectations."""
    g = Gen(workload, seed, scale)
    inputs = os.path.join(out_dir, "inputs")
    os.makedirs(inputs, exist_ok=True)
    exp = gen_workload(g, inputs)
    exp["workload"], exp["seed"], exp["scale"] = workload, seed, scale
    with open(os.path.join(out_dir, "expected.json"), "w", encoding="utf-8") as f:
        json.dump(exp, f, indent=1, sort_keys=True)
        f.write("\n")
    return exp


if __name__ == "__main__":
    if len(sys.argv) not in (4, 5):
        sys.exit(__doc__)
    e = generate(sys.argv[1], int(sys.argv[2]), sys.argv[3],
                 float(sys.argv[4]) if len(sys.argv) == 5 else 1.0)
    print(json.dumps(e["dims"], sort_keys=True))
