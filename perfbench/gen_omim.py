"""Seeded generator for OMIM-format release inputs at real-release size.

Writes the twelve files `graft.Main --data-dir` reads, in the layouts of
src/test/resources/omim/, at the sizes of the real release: 27,100
mimTitles rows (1,400 obsolete or moved), 29,507 mappings and pubmed-refs
rows, 576 protected rows, 15 exclusions and 35 capitalizations.

Every phenotype belongs to one association family, so every branch of the
association cascade fires: causal, non-causal (keys 2 and 4, excluded),
skipped (key 1, no MIM, several genes, non-definitive labels), protected
(present in morbidmap, augmented into it, and leftover). Titles cover the
forms q57's synthesis covers: all six prefixes, MOVED TO one and two
targets, REMOVED, FORMERLY, symbol lists, INCLUDED, and eponyms that the
capitalization table fixes.

`generate` returns the counts the release must show by construction
(classes, obsolete classes, RO:0004003 restrictions on OMIM genes, SSSOM
rows); they are derived from the generated rows with the documented
cascade and mapping rules, not from the program under test.
"""
import os
import random

N_GENES = 16000
N_PHENO = 9700
N_OBSOLETE = 1400
N_LINK_ROWS = 29507
N_PROTECTED = 576
N_EXCLUSIONS = 15
N_SERIES = 500

GENE0, PHENO0, OBS0, EXTRA0, NOTITLE0 = 600000, 100000, 200000, 700000, 800000
WORDS = ["ATAXIA", "DYSTROPHY", "MUSCULAR", "CARDIAC", "RETINAL", "SPASTIC",
         "NEUROPATHY", "DEAFNESS", "MYOPATHY", "EPILEPSY", "ANEMIA", "SKELETAL",
         "RENAL", "HEPATIC", "CEREBRAL", "IMMUNODEFICIENCY", "DYSPLASIA",
         "CATARACT", "GLYCOGEN", "STORAGE", "LEUKODYSTROPHY", "FAMILIAL",
         "PROGRESSIVE", "CONGENITAL", "JUVENILE", "MACULAR", "PROTEIN",
         "RECEPTOR", "KINASE", "FACTOR", "CHANNEL", "TRANSPORTER"]
EPONYMS = ["danlos", "marfan", "alport", "bartter", "gitelman", "usher",
           "stargardt", "leber", "refsum", "krabbe", "fabry", "gaucher",
           "pompe", "wilson", "menkes", "rett", "angelman", "noonan",
           "costello", "sotos", "weaver", "kabuki", "alagille", "bardet",
           "biedl", "joubert", "meckel", "zellweger", "canavan", "alexander",
           "tay", "sachs", "niemann", "pick", "hurler"]
assert len(EPONYMS) == 35


def _write(path, header_lines, rows):
    with open(path, "w", encoding="utf-8") as f:
        for h in header_lines:
            f.write(h + "\n")
        for r in rows:
            f.write("\t".join(r) + "\n")


def generate(variant, out):
    os.makedirs(out, exist_ok=True)
    rng = random.Random(f"omim-{variant}")
    gene = [GENE0 + i for i in range(N_GENES)]
    pheno = [PHENO0 + j for j in range(N_PHENO)]
    sym = {g: f"GS{i}" for i, g in enumerate(gene)}
    hgnc_id = {g: str(5000 + i) for i, g in enumerate(gene)}

    def words(k):
        return " ".join(rng.choice(WORDS) for _ in range(k))

    # ---------------------------------------------------------- mimTitles
    titles, pref_title = [], {}
    for i, g in enumerate(gene):
        syms = sym[g] + ("; " + sym[g] + "B" if i % 9 == 0 else "")
        pref = f"{words(2)} {i}; {syms}"
        alt = f"{words(2)} PROTEIN; A{sym[g]}" if i % 4 == 0 else ""
        titles.append(("Plus" if i % 5 == 0 else "Asterisk", str(g), pref, alt, ""))
        pref_title[g] = pref
    for j, p in enumerate(pheno):
        prefix = ("Number Sign", "Number Sign", "Number Sign", "Number Sign",
                  "Percent", "NULL")[j % 6]
        base = f"{words(2)} {j}"
        if j % 11 == 0:
            base = f"{EPONYMS[j % 35].upper()}-{words(1)} SYNDROME {j}"
        pref = base + (f"; PS{j}" if j % 3 == 0 else "")
        alt = {0: f"{words(2)}, FORMERLY; OLD{j};; {words(1)} HABITUS",
               1: f"{words(3)}; ALT{j}",
               2: f"{words(2)}, FORMERLY"}.get(j % 7, "")
        inc = f"{words(2)}, INCLUDED; INC{j}" if j % 13 == 0 else ""
        titles.append((prefix, str(p), pref, alt, inc))
        pref_title[p] = pref
    for k in range(N_OBSOLETE):
        o = OBS0 + k
        if k % 4 == 0:
            pref = f"MOVED TO {rng.choice(pheno)} AND {rng.choice(gene)}"
        elif k % 4 == 3:
            pref = "REMOVED FROM DATABASE"
        else:
            pref = f"MOVED TO {rng.choice(pheno)}"
        titles.append(("Caret", str(o), pref, "", ""))
    _write(f"{out}/mimTitles.txt",
           ["# Copyright (c) 2026 seeded benchmark input",
            f"# Generated: variant {variant}",
            "# Prefix\tMIM Number\tPreferred Title; symbol\t"
            "Alternative Title(s); symbol(s)\tIncluded Title(s); symbols"],
           titles)
    with open(f"{out}/mimTitles.txt", "a") as f:
        f.write("# End of file.\n")

    # ---------------------------------------------- morbidmap + curator tables
    morbid = []  # (label, p_mim or '', key, gene)
    protected = []  # (p, g)
    excluded = set()
    augmentable = []
    for j, p in enumerate(pheno):
        fam = j % 10
        g = gene[(j * 7) % N_GENES]
        label = f"{words(2).capitalize()} {j}"
        if fam in (0, 1, 2):
            suffix = {0: ", digenic", 1: ", somatic"}.get(j % 30, "")
            morbid.append((label + suffix, str(p), "3", g))
        elif fam == 3:
            morbid.append((label, str(p), "3", g))
            morbid.append((label, str(p), "3", gene[(j * 7 + 1) % N_GENES]))
        elif fam == 4:
            morbid.append(("{[?"[j % 3] + label + ("}" if j % 3 == 0 else ""), str(p), "3", g))
        elif fam == 5:
            morbid.append((label, str(p), "1", g))
        elif fam == 6:
            morbid.append((label, str(p), "24"[j % 2], g))
        elif fam == 7:
            if len(excluded) < N_EXCLUSIONS:
                excluded.add(p)
            morbid.append((label, str(p), "3", g))
        elif fam == 8 and len(protected) < 300:
            morbid.append((label, str(p), "3", g))
            protected.append((p, g))
        elif fam == 9:
            augmentable.append(p)
    for i in range(0, N_GENES, 50):  # no-MIM rows and a phenotype-is-gene row
        morbid.append((f"Isolated {words(1).lower()} anomaly", "", "3", gene[i]))
    for i in range(25, N_GENES, 400):
        morbid.append(("Gene as phenotype", str(gene[i]), "3", gene[i + 1]))
    for p in augmentable[:200]:
        protected.append((p, gene[(p * 3) % N_GENES]))
    for x in range(N_PROTECTED - len(protected)):
        protected.append((NOTITLE0 + x, gene[(x * 11) % N_GENES]))
    assert len(protected) == N_PROTECTED and len(set(protected)) == N_PROTECTED
    assert len(titles) == N_GENES + N_PHENO + N_OBSOLETE and len(excluded) == N_EXCLUSIONS

    def field(label, p, key):
        return f"{label}, {p} ({key})" if p else f"{label} ({key})"
    _write(f"{out}/morbidmap.txt",
           ["# Copyright (c) 2026 seeded benchmark input",
            "# Phenotype\tGene/Locus And Other Related Symbols\tMIM Number\tCyto Location"],
           [(field(l, p, k), f"{sym[g]}, {sym[g]}L", str(g),
             f"{1 + g % 22}q{g % 40}" if g % 3 else "") for l, p, k, g in morbid])
    mondo = {p: f"MONDO:{(p * 13) % 1000000:07d}" for p, _ in protected[::3]}
    _write(f"{out}/protected-disease-gene.tsv",
           ["phenotype_mim\tmondo_id\tmondo_label\ttype\tgene_mim\thgnc_id\torcid\tcomment"],
           [(f"OMIM:{p}", mondo.get(p, ""), "protected disease", "causal", f"OMIM:{g}",
             f"HGNC:{hgnc_id[g]}",
             "https://orcid.org/0000-0002-0000-0001" if n % 2 else "", "curated")
            for n, (p, g) in enumerate(protected)])
    _write(f"{out}/exclusions-disease-gene.tsv",
           ["omim_id\tmondo_id\tmondo_label\torcid\texclusion_reason_comment"],
           [(f"OMIM:{p}", "MONDO:0000111", "excluded", "" if n % 4 == 0 else
             "https://orcid.org/0000-0001-2345-6789", "curator exclusion")
            for n, p in enumerate(sorted(excluded))])
    _write(f"{out}/known_capitalizations.tsv", ["lower_name\tcap_name\tpattern"],
           [(e, e.capitalize(), "exact") for e in EPONYMS])

    # ------------------------------------------------- mim2gene, genemap2, hgnc
    m2g = []  # (mim, type, entrez, symbol)
    for i, g in enumerate(gene):
        m2g.append((str(g), "gene/phenotype" if i % 3 == 0 else "gene",
                    "" if i % 10 == 0 else str(1000 + i), "" if i % 7 == 0 else sym[g]))
    for j, p in enumerate(pheno):
        if j % 6 == 0:
            m2g.append((str(p), "phenotype", str(90000 + j), ""))
        elif j % 6 == 3:
            m2g.append((str(p), "predominantly phenotypes", str(90000 + j), ""))
    for k in range(0, N_OBSOLETE, 5):
        m2g.append((str(OBS0 + k), "moved/removed", "", ""))
    _write(f"{out}/mim2gene.txt",
           ["# Copyright (c) 2026 seeded benchmark input",
            "# MIM Number\tMIM Entry Type\tEntrez Gene ID (NCBI)\t"
            "Approved Gene Symbol (HGNC)\tEnsembl Gene ID (Ensembl)"],
           [(m, t, e, s, f"ENSG{m}" if s else "") for m, t, e, s in m2g])
    gm2 = [(g, f"CONFL{i}" if i % 20 == 0 else sym[g])
           for i, g in enumerate(gene) if i % 2 == 0]
    _write(f"{out}/genemap2.txt",
           ["# Copyright (c) 2026 seeded benchmark input",
            "# Chromosome\tGenomic Position Start\tApproved Gene Symbol\tMIM Number"],
           [(f"chr{1 + g % 22}", str(1000 * (g % 9000)), s, str(g)) for g, s in gm2])
    hgnc_rows = [(f"HGNC:{hgnc_id[g]}", sym[g], "gene") for g in gene]
    hgnc_rows += [(f"HGNC:{90000 + n}", "", "missing symbol row") for n in range(20)]
    _write(f"{out}/hgnc_complete_set.txt", ["hgnc_id\tsymbol\tname"], hgnc_rows)

    # ------------------------------------------- phenotypic series, SSSOM, links
    ps = [(f"PS{300000 + s}", f"{words(2).capitalize()} series {s}") for s in range(N_SERIES)]
    ps += [(f"PS{300000 + (j % N_SERIES)}", str(p), pref_title[p].split(";")[0])
           for j, p in enumerate(pheno) if j % 7 == 0]
    _write(f"{out}/phenotypicSeries.txt",
           ["# Phenotypic Series Number\tPhenotype\tMIM Number"], ps)
    sssom = [((f"MONDO:{(p * 7) % 1000000:07d}", f"OMIM:{p}") if j % 2 else
              (f"OMIM:{p}", f"MONDO:{(p * 7) % 1000000:07d}"))
             for j, p in enumerate(pheno) if j % 3 != 2]
    _write(f"{out}/mondo_exactmatch_omim.sssom.tsv",
           ["# curie_map:", "#   MONDO: http://purl.obolibrary.org/obo/MONDO_",
            "# license: CC0", "subject_id\tpredicate_id\tobject_id\tmapping_justification"],
           [(s, "skos:exactMatch", o, "semapv:ManualMappingCuration") for s, o in sssom])
    link_mims = [str(m) for m in pheno + gene] + \
        [str(OBS0 + k) for k in range(N_OBSOLETE)]
    link_mims += [str(EXTRA0 + x) for x in range(N_LINK_ROWS - len(link_mims))]
    assert len(link_mims) == N_LINK_ROWS

    def ids(prefix, n):
        return "|".join(f"{prefix}{rng.randrange(10 ** 6)}" for _ in range(n))
    mappings = [(m, "True", "2026-01-05", ids("C", rng.choice((0, 1, 1, 2))),
                 ids("", rng.choice((0, 0, 1, 2)))) for m in link_mims]
    pubmed = [(m, "True", "2026-01-05", ids("", rng.choice((0, 1, 2, 3))))
              for m in link_mims]
    _write(f"{out}/mappings.tsv", ["mim\tis_phenotype\tdate_fetched\tumls_ids\torphanet_ids"],
           mappings)
    _write(f"{out}/pubmed-refs.tsv", ["mim\tis_phenotype\tdate_fetched\tpmid_refs"], pubmed)

    return {
        "rows": {"mimTitles": len(titles), "obsolete": N_OBSOLETE,
                 "mappings": len(mappings), "pubmed": len(pubmed),
                 "protected": len(protected), "exclusions": len(excluded),
                 "capitalizations": len(EPONYMS)},
        "expect": expected_counts(titles, morbid, protected, excluded, m2g, gm2,
                                  hgnc_rows, mondo, mappings, sym, hgnc_id),
    }


def expected_counts(titles, morbid, protected, excluded, m2g, gm2, hgnc_rows,
                    mondo, mappings, sym, hgnc_id):
    """What the release must contain, from the generated rows and the rules
    of the cascade (main.py:429-497) and of the mapping sources."""
    title_mims = {int(t[1]) for t in titles}
    prot = set(protected)
    # protected pairs absent from morbidmap (key 3) with a titled phenotype
    # are augmented into morbidmap: they add to their phenotype's count
    key3 = {(int(p), g) for _, p, k, g in morbid if p and k == "3"}
    n_assocs = {}
    for _, p, _, _ in morbid:
        if p:
            n_assocs[int(p)] = n_assocs.get(int(p), 0) + 1
    for p, g in prot:
        if (p, g) not in key3 and p in title_mims:
            n_assocs[p] = n_assocs.get(p, 0) + 1
    causal = {(int(p), g) for label, p, k, g in morbid
              if p and k == "3" and (int(p), g) not in prot and int(p) not in excluded
              and n_assocs[int(p)] == 1 and label[:1] not in "[{?"}
    ro_omim = len(prot | causal)

    edges = set()
    for m, t, e, _ in m2g:
        if t in ("gene", "gene/phenotype") and e:
            edges.add((m, f"NCBIGENE:{e}"))
    m1 = {m: s for m, t, _, s in m2g if t in ("gene", "gene/phenotype") and s}
    for p, g in prot:  # mim2gene augmentation with the protected gene's symbol
        m1.setdefault(str(g), sym[g])
    m2 = {str(g): s for g, s in gm2}
    good = {s: i.split(":")[1] for i, s, _ in hgnc_rows if s}
    for m in set(m1) | set(m2):
        a, b = m1.get(m), m2.get(m)
        if a and b and a != b:
            continue
        s = a or b
        edges.add((m, f"HGNC_symbol:{s}"))
        if s in good:
            edges.add((m, f"HGNC:{good[s]}"))
    for p, g in prot:
        edges.add((str(g), f"HGNC:{hgnc_id[g]}"))
    for p, mid in mondo.items():
        edges.add((str(p), mid))
    for m, _, _, umls, orpha in mappings:
        edges.update((m, f"UMLS:{x}") for x in umls.split("|") if x)
        edges.update((m, f"ORPHANET:{x}") for x in orpha.split("|") if x)
    return {"classes": len(title_mims),
            "obsolete_classes": sum(1 for t in titles if t[0] == "Caret"),
            "ro_0004003_on_omim": ro_omim, "sssom_rows": len(edges)}
