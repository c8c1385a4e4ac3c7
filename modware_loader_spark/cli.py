"""Command-line surface mirroring the reference's app suite
(``bin/modware-load`` / ``modware-export`` / ``modware-transform`` verbs):
each subcommand is one of the plans over a persistent parquet Chado
catalog.

Loads:      gff3tochado, gb2chado, gbassembly2chado, obo2chado,
            adhocobo2chado, oboclosure2chado, gaf2chado,
            dropontofromchado, bibtex2chado, organism2chado,
            dictystrain2chado, dictyplasmid2chado
Exports:    chado2gff3, chado2canonicalgff3, chado2alignmentgff3,
            chado2fasta, chado2gaf [--compress], chado2genesummary,
            dictynonpub2bib, chadopub2bib, legacydump [--xls]
            --which {colleague,
            colleague2gene,curatornotes,dictypub,dictypubannotation,
            dscorders-strain,dscorders-plasmid},
            chado2dictygff3 --variant {canonical,noncanonical,
            noncanonical-v2,noncoding,curated}
Dumps:      dictystrain, dictyplasmid
Updates:    dictybib
Transforms: blast2chadogff3, blast2gbrowsegff3, gff3alignment,
            goaappend, modidingoa, modrefingoa, pubmedpatch
Reports:    sumstatsongff3

    python -m modware_loader_spark.cli gff3tochado  --input f.gff3 --catalog DIR
    python -m modware_loader_spark.cli chado2gff3   --catalog DIR --output out/

The reference wraps each command in one DB transaction
(``gff3tochado.pm:251,272-277``); here a load mutates the catalog only
after the merge succeeds (save at the end), giving the same all-or-nothing
contract per command.
"""

from __future__ import annotations

import argparse
import os
import json
import sys
from functools import partial

from modware_loader_spark.catalog import (
    ChadoCatalog,
    restore_loader_state,
    save_loader_state,
)
from modware_loader_spark.frames import local_frame
from modware_loader_spark.session import get_spark


def _restored(name: str, args, make_loader=None):
    """An export command's loader: ``make_loader(spark)`` (default: the
    GFF3 loader) with the catalog restored into it."""
    from modware_loader_spark.plans.gff3_load import ChadoGFF3Loader

    spark = get_spark(name)
    loader = (make_loader or ChadoGFF3Loader)(spark)
    restore_loader_state(loader, ChadoCatalog(spark, args.catalog))
    return loader


def _holds(catalog: str, *tables: str) -> bool:
    """Whether the catalog directory holds every table of ``tables``."""
    return all(os.path.isdir(os.path.join(catalog, name)) for name in tables)


def _load(args, name: str, make_loader, load) -> dict:
    """One load command: restore the catalog into ``make_loader(spark)``,
    run ``load(loader)``, and save the catalog unless ``--dry-run``."""
    spark = get_spark(name)
    catalog = ChadoCatalog(spark, args.catalog)
    loader = make_loader(spark)
    restore_loader_state(loader, catalog)
    counts = load(loader)
    if not args.dry_run:
        save_loader_state(loader, catalog)
    return counts


def cmd_gff3tochado(args) -> dict:
    from modware_loader_spark.plans.gff3_load import ChadoGFF3Loader

    return _load(args, "gff3tochado", ChadoGFF3Loader, lambda ldr: ldr.load_file(args.input))


def cmd_gb2chado(args) -> dict:
    from modware_loader_spark.plans.genbank_load import GenBankChadoLoader

    make = partial(
        GenBankChadoLoader,
        reference_type=args.reference_type,
        id_prefix=args.id_prefix,
        mitochondrial=args.mitochondrial,
    )
    return _load(args, "gb2chado", make, lambda ldr: ldr.load_file(args.input))


def cmd_obo2chado(args) -> dict:
    from modware_loader_spark.plans.ontology_load import ChadoOntologyLoader

    return _load(
        args, "obo2chado", ChadoOntologyLoader,
        lambda ldr: ldr.load_file(args.input, force=args.force),
    )


def cmd_gbassembly2chado(args) -> dict:
    from modware_loader_spark.plans.genbank_assembly import load_assembly
    from modware_loader_spark.plans.genbank_load import GenBankChadoLoader

    make = partial(
        GenBankChadoLoader, reference_type=args.reference_type, id_prefix=args.prefix
    )
    return _load(
        args, "gbassembly2chado", make,
        lambda ldr: load_assembly(ldr, args.input, source=args.source, dbsource=args.dbsource),
    )


def cmd_adhocobo2chado(args) -> dict:
    from modware_loader_spark.plans.adhoc_ontology import adhoc_load
    from modware_loader_spark.plans.ontology_load import ChadoOntologyLoader

    return _load(
        args, "adhocobo2chado", ChadoOntologyLoader,
        lambda ldr: adhoc_load(ldr, args.input, include_metadata=args.include_metadata),
    )


def cmd_dropontofromchado(args) -> dict:
    from modware_loader_spark.plans.ontology_load import (
        ChadoOntologyLoader,
        drop_ontology,
    )

    def drop(loader) -> dict:
        counts: dict[str, int] = {}
        for ns in args.namespace.split(","):
            c = drop_ontology(loader, ns.strip(), partial=args.partial_lookup)
            for k, v in c.items():
                counts[k] = counts.get(k, 0) + v
        return counts

    return _load(args, "dropontofromchado", ChadoOntologyLoader, drop)


def cmd_oboclosure2chado(args) -> dict:
    from modware_loader_spark.plans.closure_load import ClosureLoader
    from modware_loader_spark.plans.ontology_load import ChadoOntologyLoader

    return _load(
        args, "oboclosure2chado",
        lambda spark: ClosureLoader(ChadoOntologyLoader(spark)),
        lambda closure: closure.load_file(args.input),
    )


def cmd_chado2gff3(args) -> dict:
    from modware_loader_spark.plans.exports import chado2gff3_rows, sequence_regions
    from modware_loader_spark.sinks.gff3 import write_gff3

    loader = _restored("chado2gff3", args)
    rows = chado2gff3_rows(loader)
    n = write_gff3(rows, args.output, sequence_regions=sequence_regions(loader))
    return {"features_exported": n}


def cmd_chado2alignmentgff3(args) -> dict:
    from modware_loader_spark.plans.exports import (
        chado2alignment_rows,
        sequence_regions,
    )
    from modware_loader_spark.sinks.gff3 import write_gff3

    loader = _restored("chado2alignmentgff3", args)
    rows = chado2alignment_rows(
        loader,
        args.feature_type,
        match_type=args.match_type,
        force_name=args.force_name,
        add_description=args.add_description,
    )
    regions = sequence_regions(loader) if args.write_sequence_region else None
    n = write_gff3(rows, args.output, sequence_regions=regions)
    return {"features_exported": n}


def cmd_gff3alignment(args) -> dict:
    from modware_loader_spark.plans.gff3_filter import filter_gff3_alignments
    from modware_loader_spark.sinks.gff3 import write_gff3
    from modware_loader_spark.sources.gff3 import parse_gff3

    from pyspark.sql import functions as F

    from modware_loader_spark.functions import strand_to_int

    spark = get_spark("gff3alignment")
    features, _ = parse_gff3(spark, args.input)
    kept = filter_gff3_alignments(
        features.withColumn("strand", strand_to_int(F.col("strand"))),
        match_type=args.match_type,
        match_part_distance=args.match_part_distance,
    )
    return {"features_kept": write_gff3(kept.drop("line_idx"), args.output)}


def cmd_chado2fasta(args) -> dict:
    from pyspark.sql import functions as F

    from modware_loader_spark.plans.exports import spliced_sequences
    from modware_loader_spark.sinks.fasta import write_fasta

    loader = _restored("chado2fasta", args)
    if args.feature_type:
        seqs = spliced_sequences(loader, child_type=args.feature_type).select(
            F.col("parent").alias("id"), F.col("spliced").alias("sequence")
        )
    else:
        seqs = loader.tables["feature"].filter(F.col("residues").isNotNull()).select(
            F.col("uniquename").alias("id"), F.col("residues").alias("sequence")
        )
    write_fasta(seqs, args.output)
    return {"sequences_exported": seqs.count()}


def cmd_gaf2chado(args) -> dict:
    """dictygaf2chado: GAF annotation load against the catalog's feature +
    ontology state, with the dicty appender roles as flags (reference
    dictygaf2chado.pm:21-68 — prune/ncrna/dupes/limit)."""
    from modware_loader_spark.plans.gaf_load import GAFLoader
    from modware_loader_spark.plans.goa_append import (
        append_duplicates,
        append_ncrna,
        load_chr2_dups,
        load_ncrna_gaf,
    )
    from modware_loader_spark.sources.gaf import parse_gaf

    def load(loader) -> dict:
        if not _holds(args.catalog, "feature", "cvterm", "dbxref"):
            raise SystemExit("catalog must hold feature + ontology state first")
        gaf = parse_gaf(loader.spark, args.input)
        if args.dupes:
            chr2 = load_chr2_dups(loader.spark, args.chr2dups) if args.chr2dups else None
            gaf = append_duplicates(gaf, chr2_map=chr2)
        if args.ncrna:
            gaf = append_ncrna(gaf, load_ncrna_gaf(loader.spark, args.ncrna))
        if args.limit:
            gaf = gaf.limit(args.limit)
        if args.prune:
            loader.prune()
        return loader.load(gaf)

    return _load(args, "gaf2chado", GAFLoader, load)


def cmd_chado2canonicalgff3(args) -> dict:
    """chado2canonicalgff3: generic canonical gene models (%RNA
    transcripts of any source, reference chado2canonicalgff3.pm)."""
    from modware_loader_spark.plans.dicty_exports import canonical_rows
    from modware_loader_spark.sinks.gff3 import write_gff3

    loader = _restored("chado2canonicalgff3", args)
    rows = canonical_rows(loader)
    return {"features_exported": write_gff3(rows, args.output)}


def cmd_chado2dictygff3(args) -> dict:
    """chado2dicty{canonical,noncanonical,noncanonical-v2,noncoding,
    curated}gff3 variants (reference chado2dicty*.pm), selected via
    --variant."""
    from modware_loader_spark.plans import dicty_exports as de
    from modware_loader_spark.sinks.gff3 import write_gff3

    loader = _restored("chado2dictygff3", args)
    if args.variant == "canonical":
        rows = de.dicty_canonical_rows(loader)
    elif args.variant == "noncanonical":
        rows = de.dicty_noncanonical_rows(
            loader, source=args.source or "Sequencing Center"
        )
    elif args.variant == "noncanonical-v2":
        rows = de.dicty_noncanonical_v2_rows(
            loader, source=args.source or "geneID reprediction"
        )
    elif args.variant == "noncoding":
        rows = de.dicty_noncoding_rows(loader)
    elif args.variant == "curated":
        rows = de.dicty_curated_rows(loader, source=args.source or "dictyBase Curator")
    else:
        raise SystemExit(f"unknown variant {args.variant}")
    return {"features_exported": write_gff3(rows, args.output)}


def cmd_blast2gbrowsegff3(args) -> dict:
    """blast2gbrowsegff3: raw BLAST report → GBrowse-style GFF3 with the
    Tblastn filter options (reference blast2gbrowsegff3.pm)."""
    from pyspark.sql import functions as F

    from modware_loader_spark.plans.blast2gbrowse import blast_to_gbrowse_rows
    from modware_loader_spark.sinks.gff3 import write_gff3
    from modware_loader_spark.sources.blast import parse_blast_id, read_blast_report

    spark = get_spark("blast2gbrowsegff3")
    first = spark.read.text(args.input).head(1)
    algorithm = first[0].value.split()[0].lower() if first else "blastn"
    hsps = read_blast_report(spark, args.input, algorithm=algorithm)
    for col, parser in (("hit_id", args.hit_id_parser), ("query_id", args.query_id_parser)):
        if parser:
            hsps = hsps.withColumn(col, parse_blast_id(F.col(col), parser))
    rows = blast_to_gbrowse_rows(
        hsps,
        algorithm,
        source=args.source,
        merge_contained=args.merge_contained,
        max_intron_length=args.max_intron_length,
        orf_only=args.orf_only,
        start_codon_only=args.start_codon_only,
        remove_stop_codon=args.remove_stop_codon,
    )
    return {"features_written": write_gff3(rows, args.output)}


def cmd_sumstatsongff3(args) -> dict:
    """sumstatsongff3: intron summary statistics per GFF3 input
    (reference sumstatsongff3.pm)."""
    from modware_loader_spark.plans.sumstats import intron_stats
    from modware_loader_spark.sources.gff3 import parse_gff3

    spark = get_spark("sumstatsongff3")
    out = {}
    for path in args.input.split(","):
        features, _ = parse_gff3(spark, path)
        row = intron_stats(features, source=args.source, filename=os.path.basename(path)).first()
        if row is None:
            out[os.path.basename(path)] = None
        else:
            out[os.path.basename(path)] = {
                "type": row.type, "avg_nt": row.avg_nt,
                "max_nt": row.max_nt, "min_nt": row.min_nt,
            }
    return out


def cmd_modidingoa(args) -> dict:
    """modidingoa: keep GOA rows whose object maps to a MOD gene id via a
    gp2protein resource, rewriting the id columns (reference
    modidingoa.pm + Convert/Resource/gp2protein.pm)."""
    from modware_loader_spark.plans.goa_filter import load_gp2protein, mod_id_in_goa
    from modware_loader_spark.sinks.gaf import write_gaf
    from modware_loader_spark.sources.gaf import parse_gaf

    spark = get_spark("modidingoa")
    gaf = parse_gaf(spark, args.input)
    id_map = load_gp2protein(spark, args.resource)
    out = mod_id_in_goa(gaf, id_map, mod_db=args.db)
    write_gaf(out, args.output)
    return {"rows_in": gaf.count(), "rows_out": out.count()}


def cmd_modrefingoa(args) -> dict:
    """modrefingoa: rewrite the first db_ref to the MOD publication id via
    a GO.references resource (reference modrefingoa.pm +
    Convert/Resource/goref.pm)."""
    from modware_loader_spark.plans.goa_filter import load_goref, mod_ref_in_goa
    from modware_loader_spark.sinks.gaf import write_gaf
    from modware_loader_spark.sources.gaf import parse_gaf

    spark = get_spark("modrefingoa")
    gaf = parse_gaf(spark, args.input)
    pub_map = load_goref(spark, args.resource, db=args.db)
    out = mod_ref_in_goa(gaf, pub_map)
    write_gaf(out, args.output)
    return {"rows": out.count()}


def cmd_goaappend(args) -> dict:
    """GOA dicty post-steps (reference AppendncRNA / AppendDuplicate roles):
    append ncRNA annotations and duplicate-gene copies to a GAF export."""
    from modware_loader_spark.plans.goa_append import (
        append_duplicates,
        append_ncrna,
        load_chr2_dups,
        load_ncrna_gaf,
    )
    from modware_loader_spark.sinks.gaf import write_gaf
    from modware_loader_spark.sources.gaf import parse_gaf

    spark = get_spark("goaappend")
    gaf = parse_gaf(spark, args.input)
    n_in = gaf.count()
    if args.duplicates:
        chr2 = load_chr2_dups(spark, args.chr2dups) if args.chr2dups else None
        gaf = append_duplicates(gaf, chr2_map=chr2)
    if args.ncrna:
        gaf = append_ncrna(gaf, load_ncrna_gaf(spark, args.ncrna))
    write_gaf(gaf, args.output)
    return {"rows_in": n_in, "rows_out": gaf.count()}


def cmd_blast2chadogff3(args) -> dict:
    """blast2chadogff3: raw BLAST report → Chado-style GFF3 (parent match +
    match_part children, Target/Gap attrs — reference blast2chadogff3.pm)."""
    from modware_loader_spark.plans.blast2gff3 import blast_report_to_gff3_rows
    from modware_loader_spark.sinks.gff3 import write_gff3

    spark = get_spark("blast2chadogff3")
    rows = blast_report_to_gff3_rows(
        spark,
        args.input,
        evalue_cutoff=args.evalue_cutoff,
        num_hit=args.num_hit or None,
        source=args.source,
        primary_tag=args.primary_tag,
        hit_id_parser=args.hit_id_parser,
        query_id_parser=args.query_id_parser,
    )
    return {"features": write_gff3(rows, args.output)}


def cmd_bibtex2chado(args) -> dict:
    """bibtex2chado: BibTeX entries → pub module tables in the catalog
    (reference bibtex2chado.pm via BibTeX::Parser); pubs already in the
    catalog are kept, the pub types go into cv ``pub_type``."""
    from modware_loader_spark.plans.bibtex_load import BibTeXLoader

    return _load(args, "bibtex2chado", BibTeXLoader, lambda ldr: ldr.load_file(args.input))


def cmd_dictybib(args) -> dict:
    """dictybib: stamp unstamped BibTeX entries with the pub table's
    created_at and re-emit them (reference Update/Command/dictybib.pm)."""
    from modware_loader_spark.plans.bibtex_update import dictybib_update, render_bibtex
    from modware_loader_spark.sources.bibtex import parse_bibtex

    from modware_loader_spark.sinks.text import write_single_text

    spark = get_spark("dictybib")
    catalog = ChadoCatalog(spark, args.catalog)
    pub = catalog.load(["pub"]).get("pub")
    if pub is None:
        raise SystemExit("catalog must hold a pub table (run bibtex2chado first)")
    entries = parse_bibtex(spark, args.input)
    rendered = render_bibtex(dictybib_update(entries, pub))
    n = write_single_text(rendered, "text", args.output, order_by="citekey")
    return {"entries": n}


def cmd_dictynonpub2bib(args) -> dict:
    """dictynonpub2bib: non-PubMed pubs rendered as BibTeX articles
    (reference Export/Command/dictynonpub2bib.pm), abstracts typed by
    the ``pub_type`` cv."""
    from modware_loader_spark.plans.bibtex_load import BibTeXLoader
    from modware_loader_spark.plans.bibtex_update import nonpub2bib_rows
    from modware_loader_spark.sinks.text import write_single_text

    for need in ("pub", "pubprop", "pubauthor", "cvterm"):
        if not _holds(args.catalog, need):
            raise SystemExit(f"catalog must hold {need} (run bibtex2chado first)")
    loader = _restored("dictynonpub2bib", args, BibTeXLoader)
    t = loader.tables
    rows = nonpub2bib_rows(
        t["pub"], t["pubprop"], t["pubauthor"], loader.chado.term_ids("pub_type"),
        timestamp=not args.no_timestamp,
    )
    n = write_single_text(rows, "text", args.output, order_by="citekey")
    return {"entries": n}


def cmd_chadopub2bib(args) -> dict:
    """chadopub2bib: dumped PubMed efetch XML page(s) → BibTeX with the
    stylesheet-equivalent transform (reference chadopub2bib.pm:65-123 +
    share/pubmed2bibtex.xslt). The NCBI fetch itself stays driver-side
    by design (S10 classification); this consumes the command's own
    --xmldump artifacts. With --catalog, entries are restricted to the
    pub table's pubplace=PUBMED uniquenames — the row set the reference
    pages over. --xslt runs the real stylesheet when lxml is installed."""
    from pyspark.sql import functions as F

    from modware_loader_spark.plans.pub2bib import pub2bib_rows, pubmed_xml_to_bibtex

    spark = get_spark("chadopub2bib")
    pmids = None
    if args.catalog:
        catalog = ChadoCatalog(spark, args.catalog)
        pub = catalog.load(["pub"]).get("pub")
        if pub is None:
            raise SystemExit("catalog must hold a pub table (run bibtex2chado first)")
        pmids = [
            r.uniquename
            for r in pub.filter(F.upper("pubplace") == "PUBMED")
            .select("uniquename")
            .collect()
        ]
    if args.xslt:
        # lxml path runs driver-side, but honors the same file(s)/glob
        # contract as the Spark path
        import glob as globmod

        raw = sorted(globmod.glob(args.xml)) or (
            [args.xml] if os.path.exists(args.xml) else []
        )
        files: list[str] = []
        for f in raw:  # a directory means "all pages inside", like Spark's reader
            if os.path.isdir(f):
                files.extend(
                    p for p in sorted(globmod.glob(os.path.join(f, "*")))
                    if os.path.isfile(p)
                )
            else:
                files.append(f)
        if not files:
            raise SystemExit(f"no XML input matches {args.xml!r}")
        with open(args.output, "w") as out:
            for f in files:
                with open(f) as fh:
                    out.write(
                        pubmed_xml_to_bibtex(fh.read(), pmids=pmids, xslt_path=args.xslt)
                    )
        return {"pages": len(files)}
    # Streamed like dictynonpub2bib: no result-set collect. Byte format
    # is identical to concatenating page texts — every non-empty page
    # ends "\n\n" (plans/pub2bib.py::_entry), so we strip one trailing
    # newline and let the text datasource's own row newline restore it;
    # pages whose every entry was pmid-filtered away contribute nothing.
    from modware_loader_spark.sinks.text import write_single_text

    pages = (
        pub2bib_rows(spark, args.xml, pmids=pmids)
        .filter(F.length("bibtex") > 0)
        .withColumn(
            "bibtex",
            F.when(
                F.col("bibtex").endswith("\n"),
                F.expr("substring(bibtex, 1, length(bibtex) - 1)"),
            ).otherwise(F.col("bibtex")),
        )
    )
    n = write_single_text(
        pages, "bibtex", args.output, order_by="file", record_separator=""
    )
    return {"pages": n}


def cmd_pubmedpatch(args) -> dict:
    """fetchpublication's local post-step (reference
    Fetch/Command/publication.pm:188-201): strip CopyrightInformation
    nodes from a dumped PubMed XML so downstream parsers don't choke.
    The eutils network fetch itself is excluded by design (S10)."""
    from modware_loader_spark.plans.pub2bib import patch_copyright

    with open(args.input) as fh:
        patched = patch_copyright(fh.read())
    with open(args.output, "w") as fh:
        fh.write(patched)
    return {"patched": 1}


def cmd_chado2genesummary(args) -> dict:
    """chado2genesummary: paragraph featureprops ⋈ legacy paragraphs →
    (gene accession, author, MediaWiki text) TSV (reference
    chado2genesummary.pm + WithMediaWikiFormatter)."""
    from modware_loader_spark.plans.gene_summary import gene_summaries

    loader = _restored("chado2genesummary", args)
    spark = loader.spark
    paragraphs = (
        spark.read.option("sep", "\t")
        .csv(args.paragraphs)
        .toDF("paragraph_no", "written_by", "paragraph_text")
    )
    pmid_map = None
    if args.pmid_map:
        pmid_map = (
            spark.read.option("sep", "\t")
            .csv(args.pmid_map)
            .toDF("reference_no", "pmid")
        )
    rows = gene_summaries(loader, paragraphs, pmid_map=pmid_map)
    rows.orderBy(rows.columns[0]).write.mode("overwrite").option(
        "sep", "\t"
    ).csv(args.output)
    return {"summaries": rows.count()}


def cmd_organism2chado(args) -> dict:
    """organism2chado: organism TSV → organism table, found or created on
    (genus, species) (reference organism2chado.pm; ships its own
    share/organism.txt when no input)."""
    from modware_loader_spark.plans.organism_load import OrganismLoader

    return _load(args, "organism2chado", OrganismLoader, lambda ldr: ldr.load_file(args.input))


def cmd_dictystrain(args) -> dict:
    """dictystrain: strain dump TSV with minted DSC_G ids (reference
    Dump/Command/dictystrain.pm)."""
    from modware_loader_spark.plans.stock import dump_strains, load_strains, write_stock_tsv

    spark = get_spark("dictystrain")
    got = load_strains(spark, args.input, args.props)
    rows = dump_strains(got["strains"], got["props"])
    write_stock_tsv(rows, args.output)
    return {"strains": rows.count(), "invalid": got["invalid"].count()}


def cmd_dictyplasmid(args) -> dict:
    """dictyplasmid: plasmid dump TSV (reference Dump/Command/dictyplasmid.pm)."""
    from modware_loader_spark.plans.stock import dump_plasmids, load_plasmids, write_stock_tsv

    spark = get_spark("dictyplasmid")
    got = load_plasmids(spark, args.input, args.props)
    rows = dump_plasmids(got["plasmids"], got["props"])
    write_stock_tsv(rows, args.output)
    return {"plasmids": rows.count(), "invalid": got["invalid"].count()}


def _stock_props(spark, path):
    from pyspark.sql import functions as F

    return (
        spark.read.option("sep", "\t")
        .csv(path)
        .toDF("strain_id", "prop_type", "value")
        .withColumn("line_idx", F.monotonically_increasing_id())
    )


def cmd_dictystrain2chado(args) -> dict:
    """dictystrain2chado: strain TSV (+ props) → stock module tables of
    the catalog (reference Import/Command/dictystrain2chado.pm +
    StrainImporter)."""
    from modware_loader_spark.plans.stock_import import StockImporter
    from modware_loader_spark.sources.tsv_stock import parse_strains

    def load(imp) -> dict:
        strains, invalid = parse_strains(imp.spark, args.input)
        counts = {"invalid": invalid.count(), **imp.import_stock(strains)}
        if args.props:
            props = _stock_props(imp.spark, args.props)
            counts.update(imp.import_props(props, "dicty_stockcenter_props"))
        return counts

    return _load(args, "dictystrain2chado", StockImporter, load)


def cmd_dictyplasmid2chado(args) -> dict:
    """dictyplasmid2chado: plasmid TSV (+ props) → stock module tables of
    the catalog (reference Import/Command/dictyplasmid2chado.pm +
    PlasmidImporter)."""
    from modware_loader_spark.plans.stock_import import StockImporter
    from modware_loader_spark.sources.tsv_stock import parse_plasmids

    def load(imp) -> dict:
        plasmids, invalid = parse_plasmids(imp.spark, args.input)
        counts = {
            "invalid": invalid.count(),
            **imp.import_stock(
                plasmids,
                stock_type="plasmid",
                id_col="plasmid_id",
                name_col="plasmid_name",
                species_col=None,
                descr_col="plasmid_descr",
            ),
        }
        if args.props:
            props = _stock_props(imp.spark, args.props)
            counts.update(imp.import_props(props, "dicty_stockcenter_props"))
        return counts

    return _load(args, "dictyplasmid2chado", StockImporter, load)


def cmd_chado2gaf(args) -> dict:
    """dictygaf: GAF 2.0 export of the catalog's feature_cvterm state
    (reference Export dictygaf / Export::GAF base)."""
    from modware_loader_spark.plans.gaf_export import chado2gaf_rows
    from modware_loader_spark.plans.gaf_load import GAFLoader
    from modware_loader_spark.sinks.gaf import write_gaf

    for need in ("feature", "cvterm", "dbxref", "feature_cvterm"):
        if not _holds(args.catalog, need):
            raise SystemExit(f"catalog must hold {need} (run gaf2chado first)")
    loader = _restored("chado2gaf", args, GAFLoader)
    rows = chado2gaf_rows(loader, db=args.db, taxon=args.taxon)
    write_gaf(rows, args.output)
    out = {"annotations": rows.count()}
    if args.compress:
        # reference Export/GAF.pm:29-41 + Role/Command/CanCompress.pm:15-26:
        # an after-execute hook compresses the written output ("Compress
        # output to *.tar.gz"); our GAF sink writes a Spark text directory,
        # so a directory tars to <output>.tar.gz and a plain file gzips to
        # <output>.gz, matching the role's single-file behavior
        import gzip
        import shutil
        import tarfile

        if os.path.isdir(args.output):
            compressed = args.output.rstrip("/") + ".tar.gz"
            with tarfile.open(compressed, "w:gz") as tf:
                tf.add(args.output, arcname=os.path.basename(args.output.rstrip("/")))
        else:
            compressed = args.output + ".gz"
            with open(args.output, "rb") as src, gzip.open(compressed, "wb") as dst:
                shutil.copyfileobj(src, dst)
        out["compressed_output"] = compressed
    return out


def cmd_legacydump(args) -> dict:
    """Legacy-schema exports (reference colleague / colleague2gene /
    curatornotes / dictypub / dictypubannotation / dscorders commands) over
    a parquet catalog of the legacy tables."""
    from modware_loader_spark.plans import legacy_exports as le

    spark = get_spark("legacydump")
    catalog = ChadoCatalog(spark, args.catalog)

    def need(*names):
        got = catalog.load(list(names))
        missing = [n for n in names if n not in got]
        if missing:
            raise SystemExit(f"legacy catalog missing tables: {missing}")
        return got

    which = args.which
    if which == "colleague":
        t = need("colleague", "coll_email", "email")
        opt = catalog.load(["coll_phone", "phone", "colleague_remark"])
        rows = le.colleague_rows(
            t["colleague"], t["coll_email"], t["email"],
            coll_phone=opt.get("coll_phone"), phone=opt.get("phone"),
            colleague_remark=opt.get("colleague_remark"),
        )
    elif which == "colleague2gene":
        t = need("email", "coll_email", "coll_locus", "feature")
        rows = le.colleague_genes(t["email"], t["coll_email"], t["coll_locus"], t["feature"])
    elif which == "curatornotes":
        t = need("featureprop", "feature", "cvterm", "dbxref")
        rows = le.curator_notes(
            t["featureprop"], t["feature"], t["cvterm"], t["dbxref"],
            note_type=args.note_type,
        )
    elif which == "dictypub":
        t = need("feature_pub", "feature", "pub", "dbxref", "cvterm")
        rows = le.dicty_publinks(
            t["feature_pub"], t["feature"], t["pub"], t["dbxref"], t["cvterm"]
        )
    elif which == "dictypubannotation":
        t = need("feature_pub", "feature", "pub", "dbxref", "feature_pubprop", "cvterm")
        opt = catalog.load(["curator_feature_pubprop", "curator"])
        rows = le.pub_annotations(
            t["feature_pub"], t["feature"], t["pub"], t["dbxref"],
            t["feature_pubprop"], t["cvterm"],
            curator_feature_pubprop=opt.get("curator_feature_pubprop"),
            curator=opt.get("curator"),
        )
    elif which == "dscorders-plasmid":
        t = need("plasmid", "stock_item_order", "stock_order", "colleague",
                 "coll_email", "email")
        rows = le.dsc_plasmid_orders(
            t["plasmid"], t["stock_item_order"], t["stock_order"],
            t["colleague"], t["coll_email"], t["email"],
        )
    elif which == "dscorders-strain":
        t = need("stock_center", "plasmid", "stock_item_order", "stock_order",
                 "colleague", "coll_email", "email", "dbxref")
        rows = le.dsc_strain_orders(
            t["stock_center"], t["plasmid"], t["stock_item_order"],
            t["stock_order"], t["colleague"], t["coll_email"], t["email"],
            t["dbxref"],
        )
    else:  # pragma: no cover — argparse choices guard
        raise SystemExit(f"unknown export: {which}")
    rows.write.mode("overwrite").option("sep", "\t").csv(args.output)
    out = {"rows": rows.count()}
    if getattr(args, "xls", None):
        # reference dictypub.pm:70-107 mirrors its report into a
        # Spreadsheet::WriteExcel worksheet; the stdlib .xlsx sink is the
        # modern equivalent (dscorders' CSVs get the same option)
        from modware_loader_spark.sinks.xlsx import write_xlsx

        out["xls_rows"] = write_xlsx(rows, args.xls)
    return out


def cmd_exportjsonl(args) -> dict:
    """Sharded JSONL training-data export: read a parquet table (or any
    directory Spark can read as parquet), assign reproducible shards,
    write ``shard=K/*.json[.gz]``. The terminal stage of the curation
    pipeline — the format trainers stream."""
    from modware_loader_spark.sinks.jsonl import write_jsonl_shards

    spark = get_spark("exportjsonl")
    df = spark.read.parquet(args.input)
    write_jsonl_shards(
        df,
        args.output,
        n_shards=int(args.shards),
        key_col=args.key,
        codec=None if args.no_compress else "gzip",
    )
    out = {"shards": int(args.shards)}
    if args.count:
        # opt-in: a row count costs a second full input scan on top of
        # the export pass — not worth paying by default at export scale
        out["rows"] = df.count()
    return out


def cmd_ivfindex(args) -> dict:
    """Rolling ANN-index lifecycle over a bucketed table: ``build``
    trains centroids on the input vectors (hash-uniform seeds — the
    production seeding) and materializes the cell-bucketed index +
    a ``<table>__centroids`` side table; ``append`` assigns a new batch
    against those SAVED centroids and slots its files into the buckets
    (O(batch), no retrain); ``compact`` collapses each bucket back to
    one file. ``similarity_index_drift``'s share-drift statistic is the
    retrain signal (see operators/ivf.py scale notes)."""
    from modware_loader_spark.operators.ivf import (
        _centroid_literals,
        append_ivf_index,
        compact_ivf_index,
        ivf_train,
        save_ivf_index,
    )

    spark = get_spark("ivfindex")
    t, ct = args.table, args.table + "__centroids"
    if args.action == "build":
        vecs = spark.read.parquet(args.input).select(args.id_col, args.vec_col)
        cents = ivf_train(
            vecs, nlist=int(args.nlist), lloyd_iters=int(args.lloyd_iters),
            id_col=args.id_col, vec_col=args.vec_col, seed_strategy="hash",
        )
        local_frame(spark, cents, "cell int, centroid array<double>").write.mode(
            "overwrite"
        ).format("parquet").saveAsTable(ct)
        idx = save_ivf_index(vecs, cents, t, id_col=args.id_col, vec_col=args.vec_col)
        return {"rows": idx.count(), "cells": len(cents)}
    if args.action == "append":
        vecs = spark.read.parquet(args.input).select(args.id_col, args.vec_col)
        idx = append_ivf_index(
            vecs, _centroid_literals(spark.table(ct)), t,
            id_col=args.id_col, vec_col=args.vec_col,
        )
        return {"rows": idx.count()}
    if args.action == "compact":
        return compact_ivf_index(spark, t)
    raise SystemExit(f"unknown --action {args.action!r}")


def main(argv=None) -> int:
    p = argparse.ArgumentParser(prog="modware-spark")
    sub = p.add_subparsers(dest="command", required=True)

    def add(name, fn, catalog=True, **flags):
        sp = sub.add_parser(name)
        if catalog:
            sp.add_argument("--catalog", required=True, help="parquet catalog dir")
        sp.add_argument("--dry_run", action="store_true")
        for flag, kw in flags.items():
            sp.add_argument(flag, **kw)
        sp.set_defaults(fn=fn)

    add("gff3tochado", cmd_gff3tochado, **{"--input": {"required": True}})
    add("gb2chado", cmd_gb2chado,
        **{"--input": {"required": True},
           "--reference_type": {"default": "supercontig"},
           "--id_prefix": {"default": "GB"},
           "--mitochondrial": {"action": "store_true"}})
    add("obo2chado", cmd_obo2chado,
        **{"--input": {"required": True}, "--force": {"action": "store_true"}})
    add("gbassembly2chado", cmd_gbassembly2chado,
        **{"--input": {"required": True},
           "--prefix": {"default": "GB"},
           "--source": {"default": "genbank:nucleotide"},
           "--dbsource": {"default": "dictyBase"},
           "--reference_type": {"default": "supercontig"}})
    add("adhocobo2chado", cmd_adhocobo2chado,
        **{"--input": {"required": True},
           "--include_metadata": {"action": "store_true"}})
    add("oboclosure2chado", cmd_oboclosure2chado, **{"--input": {"required": True}})
    add("dropontofromchado", cmd_dropontofromchado,
        **{"--namespace": {"required": True,
                           "help": "cv namespace(s) to drop, comma-separated"},
           "--partial_lookup": {"action": "store_true"}})
    add("chado2gff3", cmd_chado2gff3, **{"--output": {"required": True}})
    add("chado2alignmentgff3", cmd_chado2alignmentgff3,
        **{"--output": {"required": True},
           "--feature_type": {"required": True},
           "--match_type": {"default": None},
           "--force_name": {"action": "store_true"},
           "--add_description": {"action": "store_true"},
           "--write_sequence_region": {"action": "store_true"}})
    add("gff3alignment", cmd_gff3alignment, catalog=False,
        **{"--input": {"required": True},
           "--output": {"required": True},
           "--match_type": {"default": "protein_match"},
           "--match_part_distance": {"type": int, "required": True}})
    add("chado2fasta", cmd_chado2fasta,
        **{"--output": {"required": True}, "--feature_type": {"default": None}})
    add("gaf2chado", cmd_gaf2chado,
        **{"--input": {"required": True},
           "--prune": {"action": "store_true"},
           "--limit": {"type": int, "default": 0},
           "--ncrna": {"default": None},
           "--dupes": {"action": "store_true"},
           "--chr2dups": {"default": None}})
    add("chado2canonicalgff3", cmd_chado2canonicalgff3,
        **{"--output": {"required": True}})
    add("chado2dictygff3", cmd_chado2dictygff3,
        **{"--output": {"required": True},
           "--variant": {"required": True,
                         "choices": ["canonical", "noncanonical",
                                     "noncanonical-v2", "noncoding", "curated"]},
           "--source": {"default": None}})
    add("sumstatsongff3", cmd_sumstatsongff3, catalog=False,
        **{"--input": {"required": True, "help": "GFF3 file(s), comma-separated"},
           "--source": {"default": None}})
    add("blast2gbrowsegff3", cmd_blast2gbrowsegff3, catalog=False,
        **{"--input": {"required": True},
           "--output": {"required": True},
           "--source": {"default": None},
           "--merge_contained": {"action": "store_true"},
           "--max_intron_length": {"type": int, "default": 0},
           "--orf_only": {"action": "store_true"},
           "--start_codon_only": {"action": "store_true"},
           "--remove_stop_codon": {"action": "store_true"},
           "--hit_id_parser": {"default": None},
           "--query_id_parser": {"default": None}})
    add("modidingoa", cmd_modidingoa, catalog=False,
        **{"--input": {"required": True},
           "--output": {"required": True},
           "--resource": {"required": True, "help": "gp2protein file"},
           "--db": {"default": "dictyBase"}})
    add("modrefingoa", cmd_modrefingoa, catalog=False,
        **{"--input": {"required": True},
           "--output": {"required": True},
           "--resource": {"required": True, "help": "GO.references file"},
           "--db": {"default": "dictyBase_REF"}})
    add("goaappend", cmd_goaappend, catalog=False,
        **{"--input": {"required": True},
           "--output": {"required": True},
           "--ncrna": {"default": None, "help": "ncRNA GAF share file to append"},
           "--duplicates": {"action": "store_true"},
           "--chr2dups": {"default": None, "help": "chr2 duplicate TSV map"}})
    add("blast2chadogff3", cmd_blast2chadogff3, catalog=False,
        **{"--input": {"required": True},
           "--output": {"required": True},
           "--evalue_cutoff": {"type": float, "default": None},
           "--num_hit": {"type": int, "default": 0},
           "--source": {"default": None},
           "--primary_tag": {"default": None},
           "--hit_id_parser": {"default": None},
           "--query_id_parser": {"default": None}})
    add("bibtex2chado", cmd_bibtex2chado, **{"--input": {"required": True}})
    add("dictybib", cmd_dictybib,
        **{"--input": {"required": True}, "--output": {"required": True}})
    add("dictynonpub2bib", cmd_dictynonpub2bib,
        **{"--output": {"required": True},
           "--no_timestamp": {"action": "store_true"}})
    add("pubmedpatch", cmd_pubmedpatch, catalog=False,
        **{"--input": {"required": True}, "--output": {"required": True}})
    add("chadopub2bib", cmd_chadopub2bib, catalog=False,
        **{"--xml": {"required": True,
                     "help": "dumped efetch XML file(s)/glob (the reference's --xmldump artifacts)"},
           "--output": {"required": True},
           "--catalog": {"default": None,
                         "help": "restrict to the catalog pub table's PUBMED entries"},
           "--xslt": {"default": None,
                      "help": "run a real XSLT stylesheet instead (requires lxml)"}})
    add("chado2genesummary", cmd_chado2genesummary,
        **{"--paragraphs": {"required": True,
                            "help": "legacy paragraph TSV (no, author, text)"},
           "--pmid_map": {"default": None,
                          "help": "reference_no→pmid TSV for <reference> tags"},
           "--output": {"required": True}})
    add("organism2chado", cmd_organism2chado, **{"--input": {"required": True}})
    add("dictystrain", cmd_dictystrain, catalog=False,
        **{"--input": {"required": True},
           "--props": {"default": None},
           "--output": {"required": True}})
    add("dictyplasmid", cmd_dictyplasmid, catalog=False,
        **{"--input": {"required": True},
           "--props": {"default": None},
           "--output": {"required": True}})
    add("dictystrain2chado", cmd_dictystrain2chado,
        **{"--input": {"required": True}, "--props": {"default": None}})
    add("dictyplasmid2chado", cmd_dictyplasmid2chado,
        **{"--input": {"required": True}, "--props": {"default": None}})
    add("chado2gaf", cmd_chado2gaf,
        **{"--output": {"required": True},
           "--db": {"default": "dictyBase"},
           "--taxon": {"default": "taxon:44689"},
           "--compress": {"action": "store_true",
                          "help": "gzip the output to <output>.gz "
                                  "(reference CanCompress role)"}})
    add("ivfindex", cmd_ivfindex, catalog=False,
        **{"--action": {"required": True,
                        "choices": ["build", "append", "compact"]},
           "--table": {"required": True},
           "--input": {"default": None,
                       "help": "parquet dir of vectors (build/append)"},
           "--nlist": {"default": "64"},
           "--lloyd_iters": {"default": "1"},
           "--id_col": {"default": "vec_id"},
           "--vec_col": {"default": "embedding"}})
    add("exportjsonl", cmd_exportjsonl, catalog=False,
        **{"--input": {"required": True, "help": "parquet dir to export"},
           "--output": {"required": True},
           "--shards": {"default": "16"},
           "--key": {"default": "doc_id"},
           "--no_compress": {"action": "store_true"},
           "--count": {"action": "store_true"}})
    add("legacydump", cmd_legacydump,
        **{"--which": {"required": True,
                       "choices": ["colleague", "colleague2gene", "curatornotes",
                                   "dictypub", "dictypubannotation",
                                   "dscorders-strain", "dscorders-plasmid"]},
           "--note_type": {"default": "public"},
           "--output": {"required": True},
           "--xls": {"default": None,
                     "help": "also mirror the report into a one-sheet .xlsx "
                             "(reference dictypub.pm's Spreadsheet::WriteExcel)"}})

    args = p.parse_args(argv)
    result = args.fn(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
