"""Seeded input generator for the benchmark workloads.

Everything here is pure Python (plus pyarrow for the Parquet dims): the
program under test only ever sees the files this module writes. The same
``seed`` and sizes always give byte-identical files, and the generator
returns the ground truth it planted so the workloads can check outputs.

Draws that pick from large lists use Vose alias tables (O(1) per draw)
rather than ``random.choices``, which rebuilds cumulative weights on every
call and made a 2k-drug generation take minutes.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass, field
from xml.sax.saxutils import escape

from perfbench.reference import simplify_name

_CONSONANTS = "bcdfghklmnprstvz"
_VOWELS = "aeiou"

#: Bare categories of the generic concept clusters. Disease-ish ones feed
#: indications; the rest feed mechanistic text and bioentities.
DISEASE_CATS = ("Disease", "PhenotypicFeature")
MECH_CATS = ("Protein", "Gene", "BiologicalProcess", "SmallMolecule", "Pathway")
OTHER_CATS = ("Procedure", "Device")

ID_PREFIXES = ("CHEBI", "MESH", "UMLS", "MONDO", "NCIT", "HP", "GO")

FILLER = (
    "the", "a", "of", "and", "in", "to", "is", "with", "by", "for", "on",
    "patients", "effect", "dose", "level", "activity", "response", "plasma",
    "binding", "receptor", "clinical", "observed", "reported", "increase",
    "reduction", "acute", "chronic", "therapy", "study", "cells", "tissue",
    "mild", "severe", "oral", "daily", "renal", "hepatic", "when", "after",
)

class AliasTable:
    """Vose alias method: O(n) build, O(1) weighted draw."""

    def __init__(self, weights: list[float]):
        n = len(weights)
        total = float(sum(weights))
        scaled = [w * n / total for w in weights]
        self.prob = [0.0] * n
        self.alias = list(range(n))
        small = [i for i, p in enumerate(scaled) if p < 1.0]
        large = [i for i, p in enumerate(scaled) if p >= 1.0]
        while small and large:
            s, g = small.pop(), large.pop()
            self.prob[s], self.alias[s] = scaled[s], g
            scaled[g] -= 1.0 - scaled[s]
            (small if scaled[g] < 1.0 else large).append(g)
        for i in small + large:
            self.prob[i] = 1.0
        self.n = n

    def draw(self, rng: random.Random) -> int:
        i = int(rng.random() * self.n)
        return i if rng.random() < self.prob[i] else self.alias[i]


def zipf_table(n: int, s: float = 1.1) -> AliasTable:
    return AliasTable([1.0 / (r + 1) ** s for r in range(n)])


def _word(rng: random.Random, syllables: int) -> str:
    return "".join(
        rng.choice(_CONSONANTS) + rng.choice(_VOWELS) for _ in range(syllables)
    ) + rng.choice(_CONSONANTS)


def _unique_words(rng: random.Random, n: int) -> list[str]:
    seen: set[str] = set()
    out = []
    while len(out) < n:
        w = _word(rng, rng.randint(2, 4))
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


# ---------------------------------------------------------------------------
# Synonymizer dims
# ---------------------------------------------------------------------------


@dataclass
class Dims:
    nodes: list[tuple] = field(default_factory=list)
    clusters: list[tuple] = field(default_factory=list)
    #: concept clusters by bare category → [(cluster_id, canonical name)]
    concepts: dict[str, list[tuple[str, str]]] = field(default_factory=dict)
    #: protein-ish node ids planted for the EP2 id path ("UniProtKB:P…")
    uniprot_ids: list[str] = field(default_factory=list)
    cluster_pos: dict[str, int] = field(default_factory=dict)


def _name_variant(rng: random.Random, name: str) -> str:
    """A member-node surface form of the concept name: same simplified key."""
    k = rng.randrange(4)
    if k == 0:
        return name
    if k == 1:
        return name.upper()
    if k == 2:
        return name.title().replace(" ", "-")
    return name + "!"


def make_dims(rng: random.Random, n_concepts: int, drug_ids: list[str],
              n_uniprot: int) -> Dims:
    d = Dims()
    words = _unique_words(rng, n_concepts * 2 + 64)
    cats = DISEASE_CATS + MECH_CATS + OTHER_CATS
    num = 100000

    def add_node(nid, cid, name, cat):
        pfx, _, rest = nid.partition(":")
        d.nodes.append((
            nid, f"{pfx.upper()}:{rest}", name, simplify_name(name), cat, cid,
            "BiologicalEntity", name, cat, name, cat,
        ))

    for i in range(n_concepts):
        cat = cats[i % len(cats)]
        # one- and two-word names: the spotter probes 1..4-token grams
        name = words[2 * i] if i % 3 == 0 else f"{words[2 * i]} {words[2 * i + 1]}"
        members = []
        for _ in range(rng.randint(1, 3)):
            num += 1
            pfx = ID_PREFIXES[rng.randrange(len(ID_PREFIXES))]
            # a quarter of the ids carry a lowercase prefix: the CURIE
            # probe must capitalize it to hit id_simplified
            nid = f"{pfx.lower() if rng.random() < 0.25 else pfx}:{num}"
            members.append(nid)
        cid = members[0].split(":")[0].upper() + ":" + members[0].split(":")[1]
        members[0] = cid
        for m in members:
            add_node(m, cid, _name_variant(rng, name), cat)
        d.cluster_pos[cid] = len(d.clusters)
        d.clusters.append((cid, name, cat, members, []))
        d.concepts.setdefault(cat, []).append((cid, name))

    # shared names across clusters: the name path mode-votes (count desc,
    # cluster_id asc). Plant extra nodes carrying an existing concept's
    # name into another cluster — sometimes outvoting, sometimes tying.
    all_c = [c for cs in d.concepts.values() for c in cs]
    for _ in range(max(1, n_concepts // 20)):
        src_cid, src_name = all_c[rng.randrange(len(all_c))]
        dst_cid, _ = all_c[rng.randrange(len(all_c))]
        if dst_cid == src_cid:
            continue
        for _ in range(rng.randint(1, 3)):
            num += 1
            nid = f"NCIT:{num}"
            add_node(nid, dst_cid, src_name, "Protein")
            _append_member(d, dst_cid, nid)

    # UniProt nodes for the EP2 bare-id path (polypeptide ids)
    prot = d.concepts.get("Protein", [])
    for k in range(n_uniprot):
        uid = f"P{10000 + k:05d}"
        cid, name = prot[k % len(prot)]
        nid = f"UniProtKB:{uid}"
        add_node(nid, cid, name, "Protein")
        _append_member(d, cid, nid)
        d.uniprot_ids.append(uid)

    # one cluster per anchored drug: the DRUGBANK node is a member
    for dbid in drug_ids:
        num += 1
        cid = f"CHEBI:{num}"
        dname = _word(rng, 3).capitalize() + "ol"
        add_node(cid, cid, dname, "SmallMolecule")
        nid = f"{'drugbank' if rng.random() < 0.3 else 'DRUGBANK'}:{dbid}"
        add_node(nid, cid, dname, "Drug")
        d.clusters.append((cid, dname, "Drug", [cid, nid], []))
    return d


def _append_member(d: Dims, cid: str, nid: str) -> None:
    d.clusters[d.cluster_pos[cid]][3].append(nid)


NODE_COLS = ("id", "id_simplified", "name", "name_simplified", "category",
             "cluster_id", "major_branch", "name_sri", "category_sri",
             "name_kg2pre", "category_kg2pre")


def write_dims(d: Dims, out_dir: str) -> tuple[str, str]:
    import pyarrow as pa
    import pyarrow.parquet as pq

    nodes_path = os.path.join(out_dir, "nodes.parquet")
    clusters_path = os.path.join(out_dir, "clusters.parquet")
    cols = list(zip(*d.nodes))
    pq.write_table(
        pa.table({c: pa.array(v, pa.string()) for c, v in zip(NODE_COLS, cols)}),
        nodes_path,
    )
    cid, cname, ccat, mem, edges = zip(*d.clusters)
    pq.write_table(pa.table({
        "cluster_id": pa.array(cid, pa.string()),
        "name": pa.array(cname, pa.string()),
        "category": pa.array(ccat, pa.string()),
        "member_ids": pa.array(mem, pa.list_(pa.string())),
        "intra_cluster_edge_ids": pa.array(edges, pa.list_(pa.string())),
    }), clusters_path)
    return nodes_path, clusters_path


# ---------------------------------------------------------------------------
# DrugBank XML
# ---------------------------------------------------------------------------


@dataclass
class Drug:
    dbid: str
    anchored: bool
    #: every bioentity name the record crawl collects (entity, polypeptide
    #: and gene names) — the EP2 name path's inputs
    names: list[str]
    xml: str


def _sentence(rng: random.Random, mentions: list[str]) -> str:
    toks = [FILLER[rng.randrange(len(FILLER))] for _ in range(rng.randint(6, 14))]
    for m in mentions:
        toks.insert(rng.randrange(len(toks) + 1), m)
    return " ".join(toks).capitalize()


def _text(rng: random.Random, pool: list[tuple[str, str]], zipf: AliasTable,
          n_sent: int) -> str:
    sents = []
    for _ in range(n_sent):
        k = rng.randint(0, 2)
        sents.append(_sentence(rng, [pool[zipf.draw(rng) % len(pool)][1]
                                     for _ in range(k)]))
    txt = ". ".join(sents) + "."
    if rng.random() < 0.3:
        txt = txt.replace(". ", f" [ref {rng.randint(1, 99)}]. ", 1)
    return txt


def make_drugs(rng: random.Random, n_drugs: int, dims: Dims,
               drug_ids: list[str], anchored: set[str]) -> list[Drug]:
    disease = [c for cat in DISEASE_CATS for c in dims.concepts[cat]]
    mech = [c for cat in MECH_CATS for c in dims.concepts[cat]]
    prot = dims.concepts["Protein"] + dims.concepts["Gene"]
    zd, zm, zp = zipf_table(len(disease)), zipf_table(len(mech)), zipf_table(len(prot))
    drugs = []
    for i in range(n_drugs):
        dbid = drug_ids[i]
        names: list[str] = []
        parts = [
            '  <drug type="small molecule">',
            f'    <drugbank-id primary="true">{dbid}</drugbank-id>',
            f"    <drugbank-id>BIO{dbid}</drugbank-id>",
            f"    <name>{_word(rng, 3).capitalize()}</name>",
        ]
        for tag, pool, z, ns in (
            ("description", mech, zm, 3), ("indication", disease, zd, 2),
            ("pharmacodynamics", mech, zm, 2),
            ("mechanism-of-action", mech, zm, 2), ("metabolism", mech, zm, 1),
            ("protein-binding", mech, zm, 1),
        ):
            parts.append(f"    <{tag}>{escape(_text(rng, pool, z, ns))}</{tag}>")
        for plural in ("targets", "enzymes", "carriers", "transporters"):
            singular = plural[:-1]
            parts.append(f"    <{plural}>")
            for _ in range(rng.randint(0, 2)):
                # two thirds of entity names are exact node names
                ename = (prot[zp.draw(rng) % len(prot)][1]
                         if rng.random() < 0.67 else _word(rng, 3) + " factor")
                names.append(ename)
                parts += [f"      <{singular}>",
                          f"        <id>BE{rng.randint(1, 99999):07d}</id>",
                          f"        <name>{escape(ename)}</name>"]
                for _ in range(rng.randint(0, 2)):
                    if rng.random() < 0.5 and dims.uniprot_ids:
                        pid = dims.uniprot_ids[rng.randrange(len(dims.uniprot_ids))]
                    else:
                        pid = f"Q{rng.randint(10000, 99999)}"
                    pname = prot[zp.draw(rng) % len(prot)][1]
                    gname = _word(rng, 2).upper() + str(rng.randint(1, 9))
                    names += [pname, gname]
                    parts += [f'        <polypeptide id="{pid}" source="Swiss-Prot">',
                              f"          <name>{escape(pname)}</name>",
                              f"          <gene-name>{gname}</gene-name>",
                              "        </polypeptide>"]
                parts.append(f"      </{singular}>")
            parts.append(f"    </{plural}>")
        parts.append("    <pathways>")
        for _ in range(rng.randint(0, 2)):
            parts += ["      <pathway>",
                      f"        <smpdb-id>SMP{rng.randint(1, 999):05d}</smpdb-id>",
                      "        <name>Pathway</name>", "        <enzymes>"]
            for _ in range(rng.randint(0, 2)):
                parts.append(f"          <uniprot-id>P{rng.randint(10000, 99999)}</uniprot-id>")
            parts += ["        </enzymes>", "      </pathway>"]
        parts += ["    </pathways>", "  </drug>"]
        drugs.append(Drug(dbid, dbid in anchored, names, "\n".join(parts)))
    return drugs


def write_xml(drugs: list[Drug], path: str) -> None:
    with open(path, "w", encoding="utf-8") as f:
        f.write('<?xml version="1.0" encoding="UTF-8"?>\n'
                '<drugbank xmlns="http://www.drugbank.ca" version="5.1">\n')
        for d in drugs:
            f.write(d.xml + "\n")
        f.write("</drugbank>\n")


@dataclass
class EtlInputs:
    xml_path: str
    nodes_path: str
    clusters_path: str
    dims: Dims
    drugs: list[Drug]

    @property
    def anchored(self) -> list[str]:
        return [d.dbid for d in self.drugs if d.anchored]


def make_etl_inputs(seed: int, out_dir: str, n_drugs: int,
                    n_concepts: int) -> EtlInputs:
    rng = random.Random(f"etl-{seed}")
    os.makedirs(out_dir, exist_ok=True)
    drug_ids = [f"DB{1000 + i:05d}" for i in range(n_drugs)]
    # ~85% of drugs carry a DRUGBANK node in the synonymizer; the rest
    # are dropped by the anchor join
    anchored = {d for d in drug_ids if rng.random() < 0.85}
    dims = make_dims(rng, n_concepts, sorted(anchored), n_uniprot=n_concepts // 10)
    drugs = make_drugs(rng, n_drugs, dims, drug_ids, anchored)
    xml_path = os.path.join(out_dir, "drugbank.xml")
    write_xml(drugs, xml_path)
    nodes_path, clusters_path = write_dims(dims, out_dir)
    return EtlInputs(xml_path, nodes_path, clusters_path, dims, drugs)


# ---------------------------------------------------------------------------
# Serving requests
# ---------------------------------------------------------------------------


def _perturb_name(rng: random.Random, name: str) -> str:
    k = rng.randrange(4)
    if k == 0:
        return name.upper()
    if k == 1:
        return name.replace(" ", "-") + "."
    if k == 2:
        return " " + name.title() + ","
    return name


def _perturb_curie(rng: random.Random, curie: str) -> str:
    pfx, _, rest = curie.partition(":")
    return f"{pfx.lower() if rng.random() < 0.5 else pfx.title()}:{rest}"


def make_requests(seed: int, dims: Dims, n_requests: int,
                  batch: int) -> list[list[str]]:
    """Closed-loop lookup requests of ``batch`` entities each, Zipf-drawn
    over the node table: CURIEs with the prefix case perturbed, names with
    case and punctuation perturbed, and misses."""
    rng = random.Random(f"serve-{seed}")
    zn = zipf_table(len(dims.nodes))
    requests = []
    for _ in range(n_requests):
        ents = []
        for _ in range(batch):
            u = rng.random()
            if u < 0.1:
                ents.append(_word(rng, 3) + " " + _word(rng, 2))
            elif u < 0.55:
                ents.append(_perturb_curie(rng, dims.nodes[zn.draw(rng)][0]))
            else:
                ents.append(_perturb_name(rng, dims.nodes[zn.draw(rng)][2]))
        requests.append(ents)
    return requests
