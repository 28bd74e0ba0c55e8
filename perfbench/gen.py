"""Seeded input generator for the docs->triples benchmark.

    python3 perfbench/gen.py --workload lexical_batch --seed 7 --out DIR

writes, for one workload and one seed, everything the engine reads:

- ``docs/part-NNNNN.parquet``   the docs table (``doc_id``, ``spans``) in the
  documented layout: one ``query`` span, the ``blast_hit:<db>`` spans
  (grouped by db, parse order within a db), the ``interpro_hit`` spans
  (enriched only) and one ``media`` span.  The file count is fixed per
  workload so Spark's scan split planning -- which mention_detect keeps as
  its checkpoint layout -- is the same for every seed.
- ``goa.gaf``                    GOA lines (enriched): about half the subject
  short accessions carry 1-3 GO terms; ``NOT|`` lines and duplicate lines
  ride along and must not reach the triples.
- ``interpro.xml``               InterPro dictionary (enriched): 2,000 entries
  on 6 levels (parent chains 6 entries deep) plus ``contains`` edges.
- ``interpro_result.tsv``        raw InterProScan lines, 3 domains per doc.
- ``synonyms.parquet``           GO synonym edges over 10% of the GO terms
  (enriched).
- ``landing/``                   the stream landing zone (stream workload):
  20 parquet files of 250 docs, with increasing modification times.
- ``manifest.json``              byte sizes, span counts and the counts the
  correctness gate expects (``expected``).

The same (workload, seed) always gives byte-identical inputs.  Every doc
keeps at least one hit that passes the mention gate, and all blast hits of a
doc come from one subject family, so its GO-term count is a property of the
family alone (the winner's count is known without scoring).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
from statistics import NormalDist

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

DBS = ("db0", "db1", "db2")
DB_PREFIX = ("sp", "tr", "ur")
DB_SHARE = (0.45, 0.35, 0.20)

# subject universe: families of FAMILY_SIZE subjects; a doc samples distinct
# subjects of one family (FAMILY_SIZE is prime, so a stride walk from a
# random start never repeats within a doc: (db, hit_acc) stays unique)
N_FAMILIES = 48
FAMILY_SIZE = 1601
BLACKLISTED_EVERY = 50  # every 50th subject of a family fails the blacklist
VOCAB = 3000
N_GO = 4000
N_IPR = 2000
IPR_LEVEL_SIZES = (420, 400, 380, 320, 280, 200)  # 6 levels, sum = N_IPR
DOMAINS_PER_DOC = 3

# per-workload shape.  Doc counts keep one whole benchmark run (fresh JVM,
# cold run, steady window, resume samples, correctness gate) near 40 s on a
# 4-core host, so every workload can be run many times per session.
WORKLOADS = {
    "lexical_batch": {"n_docs": 8000, "n_files": 16, "enriched": False},
    "enriched_batch": {"n_docs": 1500, "n_files": 8, "enriched": True},
    "stream_microbatch": {"n_docs": 5000, "n_files": 20, "enriched": False},
}

AA = np.frombuffer(b"ACDEFGHIKLMNPQRSTVWY", dtype=np.uint8)


def _zipf_words(rng, n, a=1.3):
    w = rng.zipf(a, n)
    return np.minimum(w - 1, VOCAB - 1)


def _subjects(rng):
    """Per-subject description strings + GO class of each family."""
    words = np.array([f"w{i}" for i in range(VOCAB)], dtype=object)
    n_subj = N_FAMILIES * FAMILY_SIZE
    core = rng.integers(0, VOCAB, size=(N_FAMILIES, 3))
    n_core = rng.integers(1, 4, size=n_subj)
    n_extra = rng.integers(1, 4, size=n_subj)
    extra = _zipf_words(rng, n_subj * 3).reshape(n_subj, 3)
    suffix = rng.random(n_subj)
    descs = []
    for s in range(n_subj):
        f = s // FAMILY_SIZE
        if s % FAMILY_SIZE % BLACKLISTED_EVERY == 0:
            descs.append(
                "Uncharacterized protein" if s % 2 == 0
                else f"Putative {words[core[f, 0]]} protein"
            )
            continue
        toks = list(words[core[f, : n_core[s]]]) + list(words[extra[s, : n_extra[s]]])
        d = " ".join(toks).capitalize()
        if suffix[s] < 0.08:
            d += " (Fragment)"
        elif suffix[s] < 0.20:
            d += " OS=Homo sapiens GN=ABC1"
        elif suffix[s] < 0.26:
            d += " isoform 2"
        descs.append(d)
    # GO class of a family: half carry none, the rest 1..3 terms per subject
    go_class = np.where(np.arange(N_FAMILIES) % 2 == 0, 0,
                        1 + (np.arange(N_FAMILIES) // 2) % 3)
    return pa.array(descs, pa.string()), go_class


def _hit_counts(rng, n_docs):
    """Heavy-tailed blast_hit spans per doc: median ~24, 1% of docs with
    600-1300.  The multiset of counts is the same for every seed (lognormal
    quantiles + an even heavy tail); the seed only decides which doc gets
    which count, so the total work does not drift with the seed."""
    n_heavy = n_docs // 100
    n_body = n_docs - n_heavy
    inv = NormalDist(mu=np.log(24.0), sigma=0.55).inv_cdf
    body = np.exp([inv((i + 0.5) / n_body) for i in range(n_body)])
    counts = np.concatenate([
        np.clip(np.round(body), 2, 400), np.round(np.linspace(600, 1300, n_heavy))
    ]).astype(np.int64)
    return rng.permutation(counts)


def _short_acc(subj):
    return pc.binary_join_element_wise(
        "S", pc.utf8_lpad(pc.cast(pa.array(subj), pa.string()), 6, "0"), ""
    )


def _fmt_float(values, decimals):
    return pc.cast(pa.array(np.round(values, decimals)), pa.string())


def _ipr_dictionary(rng):
    """Levels 0..5; every entry below level 0 has a parent one level up, and
    ~10% of entries contain 1-2 entries of strictly deeper levels, so the
    superior relation is a DAG whose longest path has 5 edges."""
    level = np.repeat(np.arange(len(IPR_LEVEL_SIZES)), IPR_LEVEL_SIZES)
    ids = rng.permutation(N_IPR) + 1  # entry i has accession IPR{ids[i]}
    starts = np.concatenate(([0], np.cumsum(IPR_LEVEL_SIZES)))
    parent = np.full(N_IPR, -1)
    for lv in range(1, len(IPR_LEVEL_SIZES)):
        lo, hi = starts[lv], starts[lv + 1]
        parent[lo:hi] = rng.integers(starts[lv - 1], starts[lv], hi - lo)
    contains: dict[int, list[int]] = {}
    for i in np.flatnonzero((rng.random(N_IPR) < 0.10) & (level < level.max())):
        deeper_lo = starts[level[i] + 1]
        k = int(rng.integers(1, 3))
        contains[int(i)] = sorted(set(rng.integers(deeper_lo, N_IPR, k).tolist()))
    return level, ids, parent, contains


def _superiors(parent, contains):
    """Transitive ancestor-or-container sets (the semantics of
    interpro_closure), computed on the driver from the generated DAG."""
    containers: dict[int, list[int]] = {}
    for c, kids in contains.items():
        for k in kids:
            containers.setdefault(k, []).append(c)
    memo: dict[int, frozenset] = {}

    def sup(i):
        if i in memo:
            return memo[i]
        direct = ([int(parent[i])] if parent[i] >= 0 else []) + containers.get(i, [])
        out = set(direct)
        for d in direct:
            out |= sup(d)
        memo[i] = frozenset(out)
        return memo[i]

    return [sup(i) for i in range(len(parent))]


def _ipr_xml(ids, parent, contains):
    acc = lambda i: f"IPR{ids[i]:06d}"  # noqa: E731
    out = ['<?xml version="1.0" encoding="UTF-8"?>', "<interprodb>"]
    for i in range(len(ids)):
        out.append(
            f'<interpro id="{acc(i)}" protein_count="{10 + i % 90}" '
            f'short_name="Dom_{ids[i]}" type="{"Family" if i % 3 else "Domain"}">'
        )
        out.append(f"  <name>Synthetic domain {ids[i]}</name>")
        if parent[i] >= 0:
            out.append(f'  <parent_list><rel_ref ipr_ref="{acc(parent[i])}"/></parent_list>')
        if i in contains:
            refs = "".join(f'<rel_ref ipr_ref="{acc(k)}"/>' for k in contains[i])
            out.append(f"  <contains>{refs}</contains>")
        out.append("</interpro>")
    out.append("</interprodb>")
    return "\n".join(out) + "\n"


def _goa_lines(rng, go_class):
    """GAF lines for every subject of an annotated family: exactly ``c``
    distinct positive terms, some duplicated lines (read_goa keeps distinct
    pairs) and some ``NOT|`` lines with other terms (excluded by the
    default reference-GO regex)."""
    lines = ["!gaf-version: 2.2"]
    step_max = N_GO // 3 - 1
    for f in np.flatnonzero(go_class > 0):
        c = int(go_class[f])
        subj = np.arange(f * FAMILY_SIZE, (f + 1) * FAMILY_SIZE)
        base = rng.integers(0, N_GO, len(subj))
        step = rng.integers(1, step_max, len(subj))
        dup = rng.random(len(subj)) < 0.10
        neg = rng.random(len(subj)) < 0.30
        for j, s in enumerate(subj.tolist()):
            terms = [(base[j] + k * step[j]) % N_GO for k in range(c)]
            for k, t in enumerate(terms):
                q = "enables" if k % 2 == 0 else "involved_in"
                lines.append(
                    f"UniProtKB\tS{s:06d}\tSYM{s}\t{q}\tGO:{t:07d}\tPMID:1\tIEA\t\tF"
                    f"\tsubject {s}\t\tprotein\ttaxon:9606\t20240101\tUniProt"
                )
            if dup[j]:
                lines.append(
                    f"UniProtKB\tS{s:06d}\tSYM{s}\t\tGO:{terms[0]:07d}\tPMID:2\tISS\t\tP"
                    f"\tsubject {s}\t\tprotein\ttaxon:9606\t20240101\tUniProt"
                )
            if neg[j]:
                t = (base[j] + 3 * step[j]) % N_GO
                lines.append(
                    f"UniProtKB\tS{s:06d}\tSYM{s}\tNOT|enables\tGO:{t:07d}\tPMID:3\tIDA\t\tF"
                    f"\tsubject {s}\t\tprotein\ttaxon:9606\t20240101\tUniProt"
                )
    # annotations of accessions no hit carries: the semi-join drops them
    for s in range(2000):
        lines.append(
            f"UniProtKB\tX{s:06d}\tSYMX{s}\tenables\tGO:{s % N_GO:07d}\tPMID:4\tIEA\t\tF"
            f"\tother {s}\t\tprotein\ttaxon:10090\t20240101\tUniProt"
        )
    return "\n".join(lines) + "\n"


def _synonym_edges(rng):
    """Chains of 2-4 GO terms over 10% of the term universe."""
    terms = rng.permutation(N_GO)[: N_GO // 10]
    a, b = [], []
    i = 0
    while i < len(terms) - 1:
        size = int(rng.integers(2, 5))
        group = terms[i:i + size]
        for u, v in zip(group[:-1], group[1:]):
            a.append(f"GO:{u:07d}")
            b.append(f"GO:{v:07d}")
        i += size
    return pa.table({"a": pa.array(a, pa.string()), "b": pa.array(b, pa.string())})


def generate(workload: str, seed: int, out: str) -> dict:
    spec = WORKLOADS[workload]
    n_docs, n_files, enriched = spec["n_docs"], spec["n_files"], spec["enriched"]
    rng = np.random.default_rng([seed, sorted(WORKLOADS).index(workload)])
    desc_of, go_class = _subjects(rng)

    # ---- blast hits, flat, ordered by (doc, db, line) --------------------
    n_hits = _hit_counts(rng, n_docs)
    family = rng.permutation(n_docs) % N_FAMILIES  # families evenly used
    # the first hit of a doc (k = 0, never broken) is never blacklisted
    start = rng.integers(0, FAMILY_SIZE - 1, n_docs)
    start = np.where(start % BLACKLISTED_EVERY == 0, start + 1, start)
    stride = rng.integers(1, FAMILY_SIZE, n_docs)
    H = int(n_hits.sum())
    doc_of = np.repeat(np.arange(n_docs), n_hits)
    first = np.concatenate(([0], np.cumsum(n_hits)[:-1]))
    k = np.arange(H) - first[doc_of]
    subj = family[doc_of] * FAMILY_SIZE + (start[doc_of] + k * stride[doc_of]) % FAMILY_SIZE
    db = rng.choice(len(DBS), H, p=DB_SHARE)
    q_start = rng.integers(1, 51, H)
    q_end = q_start + rng.integers(40, 101, H)
    # ~1.5% broken coordinates (never the doc's first hit): gated away
    broken = (rng.random(H) < 0.015) & (k > 0)
    q_start, q_end = np.where(broken, q_end, q_start), np.where(broken, q_start, q_end)
    s_start = rng.integers(1, 31, H)
    s_end = s_start + rng.integers(45, 101, H)
    s_len = rng.integers(120, 721, H)
    e_mant = rng.uniform(1.0, 9.99, H)
    e_exp = rng.integers(3, 121, H)
    bit = rng.uniform(40.0, 490.0, H)
    # spans of a doc list the dbs in order, parse order within a db
    order = np.lexsort((k, db, doc_of))
    subj, db, doc_of = subj[order], db[order], doc_of[order]
    q_start, q_end = q_start[order], q_end[order]
    s_start, s_end, s_len = s_start[order], s_end[order], s_len[order]
    e_mant, e_exp, bit = e_mant[order], e_exp[order], bit[order]
    broken = broken[order]
    blacklisted = subj % FAMILY_SIZE % BLACKLISTED_EVERY == 0

    short = _short_acc(subj)
    prefix = pa.array(DB_PREFIX, pa.string()).take(pa.array(db))
    hit_acc = pc.binary_join_element_wise(
        prefix, short, pc.binary_join_element_wise("P", pc.cast(pa.array(subj % 997), pa.string()), ""), "|"
    )
    e_value = pc.binary_join_element_wise(_fmt_float(e_mant, 2), pc.cast(pa.array(e_exp), pa.string()), "e-")
    desc = desc_of.take(pa.array(subj))
    cols = [hit_acc] + [pc.cast(pa.array(x), pa.string()) for x in (q_start, q_end, s_start, s_end)]
    cols += [e_value, _fmt_float(bit, 1), pc.cast(pa.array(s_len), pa.string()), desc]
    blast_text = pc.binary_join_element_wise(*cols, "\t")
    db_names = pa.array(DBS, pa.string()).take(pa.array(db))
    blast_kind = pc.binary_join_element_wise("blast_hit", db_names, ":")
    blast_media = pc.binary_join_element_wise(
        pc.binary_join_element_wise("aln:/", db_names, "batch001.pairwise", "/"), hit_acc, "#"
    )

    # ---- docs ------------------------------------------------------------
    doc_ids = pa.array([f"P{i:08d}" for i in range(n_docs)], pa.string())
    qlen = rng.integers(80, 881, n_docs)
    aa = AA[rng.integers(0, len(AA), 2000)].tobytes().decode()
    qoff = rng.integers(0, 2000 - 880, n_docs)
    q_text = pa.array(
        [f"P{i:08d}\n{aa[o:o + n]}" for i, (o, n) in enumerate(zip(qoff.tolist(), qlen.tolist()))],
        pa.string(),
    )

    expected = {"docs": n_docs, "hasDescription": n_docs,
                "hasGOTerm": 0, "hasDomain": 0}
    n_ipr_spans = DOMAINS_PER_DOC if enriched else 0
    if enriched:
        level, ids, parent, contains = _ipr_dictionary(rng)
        sup = _superiors(parent, contains)
        first_dom = rng.integers(0, N_IPR, n_docs)
        pick_anc = rng.random(n_docs) < 0.5
        doms = []
        n_kept = 0
        for d in range(n_docs):
            e = int(first_dom[d])
            chosen = [e]
            if pick_anc[d] and sup[e]:
                chosen.append(sorted(sup[e])[int(rng.integers(0, len(sup[e])))])
            while len(chosen) < DOMAINS_PER_DOC:
                x = int(rng.integers(0, N_IPR))
                if x not in chosen:
                    chosen.append(x)
            n_kept += sum(
                1 for x in chosen if not any(o != x and o in sup[x] for o in chosen)
            )
            doms.append(chosen)
        expected["hasDomain"] = n_kept
        expected["hasGOTerm"] = int(go_class[family].sum())
        ipr_lines = [
            f"P{d:08d}\t{d:032x}\t{qlen[d]}\tPfam\tPF{x:05d}\tsig {x}\t{5 + j}\t{60 + j}"
            f"\t1.0E-{10 + j}\tT\t01-01-2024\tIPR{ids[x]:06d}\tSynthetic domain {ids[x]}"
            for d, chosen in enumerate(doms) for j, x in enumerate(chosen)
        ]
        ipr_text = pa.array(ipr_lines, pa.string())

    # flat span table: [query | blast | interpro | media] gathered per doc
    per_doc = 2 + n_hits + n_ipr_spans
    off = np.concatenate(([0], np.cumsum(per_doc)))
    total = int(off[-1])
    src = np.empty(total, dtype=np.int64)
    src[off[:-1]] = np.arange(n_docs)
    bfirst = np.concatenate(([0], np.cumsum(n_hits)[:-1]))
    src[off[doc_of] + 1 + (np.arange(H) - bfirst[doc_of])] = n_docs + np.arange(H)
    base_ipr = n_docs + H
    if enriched:
        for j in range(DOMAINS_PER_DOC):
            src[off[:-1] + 1 + n_hits + j] = base_ipr + np.arange(n_docs) * DOMAINS_PER_DOC + j
    base_media = base_ipr + n_docs * n_ipr_spans
    src[off[1:] - 1] = base_media + np.arange(n_docs)

    kinds = [pa.array(["query"] * n_docs), blast_kind]
    texts = [q_text, blast_text]
    medias = [pa.nulls(n_docs, pa.string()), blast_media]
    if enriched:
        kinds.append(pa.array(["interpro_hit"] * len(ipr_text)))
        texts.append(ipr_text)
        medias.append(pa.nulls(len(ipr_text), pa.string()))
    kinds.append(pa.array(["media"] * n_docs))
    texts.append(pa.nulls(n_docs, pa.string()))
    medias.append(pc.binary_join_element_wise("aln://batch001", doc_ids, ".pairwise", "/"))
    take = pa.array(src)
    offset_in_doc = np.arange(total) - np.repeat(off[:-1], per_doc)
    spans = pa.StructArray.from_arrays(
        [
            pa.concat_arrays([a.cast(pa.string()) for a in kinds]).take(take),
            pa.concat_arrays(texts).take(take),
            pa.concat_arrays(medias).take(take),
            pa.array(offset_in_doc, pa.int32()),
        ],
        names=["kind", "text", "media_ref", "offset"],
    )
    docs = pa.table({
        "doc_id": doc_ids,
        "spans": pa.ListArray.from_arrays(pa.array(off, pa.int32()), spans),
    })

    # ---- write -----------------------------------------------------------
    if os.path.exists(out):
        shutil.rmtree(out)
    os.makedirs(out)
    files_dir = "landing" if workload == "stream_microbatch" else "docs"
    os.makedirs(os.path.join(out, files_dir))
    bounds = np.linspace(0, n_docs, n_files + 1).astype(int)
    for i in range(n_files):
        path = os.path.join(out, files_dir, f"part-{i:05d}.parquet")
        pq.write_table(docs.slice(bounds[i], bounds[i + 1] - bounds[i]), path)
        # the file stream source orders files by modification time
        os.utime(path, ns=(10**18 + i * 10**9, 10**18 + i * 10**9))
    if enriched:
        with open(os.path.join(out, "goa.gaf"), "w") as fh:
            fh.write(_goa_lines(rng, go_class))
        with open(os.path.join(out, "interpro.xml"), "w") as fh:
            fh.write(_ipr_xml(ids, parent, contains))
        with open(os.path.join(out, "interpro_result.tsv"), "w") as fh:
            fh.write("\n".join(ipr_lines) + "\n")
        pq.write_table(_synonym_edges(rng), os.path.join(out, "synonyms.parquet"))

    def size(rel):
        p = os.path.join(out, rel)
        if os.path.isdir(p):
            return sum(os.path.getsize(os.path.join(p, f)) for f in os.listdir(p))
        return os.path.getsize(p) if os.path.exists(p) else 0

    manifest = {
        "workload": workload,
        "seed": seed,
        "docs_dir": files_dir,
        "n_docs": n_docs,
        "n_files": n_files,
        "blast_spans": H,
        "blast_spans_gateable": int((~broken & ~blacklisted).sum()),
        "heavy_docs": int((n_hits >= 600).sum()),
        "bytes": {rel: size(rel) for rel in (
            files_dir, "goa.gaf", "interpro.xml", "interpro_result.tsv",
            "synonyms.parquet")},
        "expected": expected,
    }
    with open(os.path.join(out, "manifest.json"), "w") as fh:
        json.dump(manifest, fh, indent=1)
    return manifest


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)
    print(json.dumps(generate(args.workload, args.seed, args.out)))


if __name__ == "__main__":
    main()
