"""The benchmark's workloads: seeded inputs, the job each one times, the
staged (traced) version of that job, and the checks on its outputs.

* ``kg_refdict`` — ``jobs/kg_submit.main`` over seeded turns and the 25-term
  FIXTURES §2 dictionary, gazetteer only: corpus-side work dominates.
* ``kg_bigdict_model`` — the same entry point with ``--use-model`` over a
  seeded gazetteer past tagging's IN-set cap with oversized anchor groups:
  dictionary compile, model linking and the merge shuffle dominate.
* ``kg_resume`` — ``kg_refdict`` re-run against its committed span snapshot:
  the checkpoint is read, and the job's tail does the work.
* ``corpus_nerset`` — the training-set path over seeded documents with
  planted twins: exact and near-duplicate removal, sentencize, grouped
  tagging, the IOB round trip and ``build_ner_dataset``.
"""

from __future__ import annotations

import contextlib
import hashlib
import importlib.util
import io
import json
import os
import re
import shutil
from dataclasses import dataclass

import pandas as pd
import pyarrow.parquet as pq

import gen
from otar3088_spark import oracle
from otar3088_spark.functions.lemma_data import IRREGULAR_PLURALS
from otar3088_spark.synth import entity_dictionary_pandas

# Input sizes. Each run pays a JVM start and a cold first job (30-40 s on a
# 4-core box) before it measures, so inputs are sized for a warm job of
# 10-15 s; the shape properties asserted in gen.py, not the row counts, are
# what each workload relies on. 17,500 first tokens give ~54,700 anchor
# keys, past tagging's 50,000 IN-set cap.
SIZES = {
    "ref_turns": 4_000,
    "big_turns": 1_000,
    "big_first_tokens": 17_500,
    "big_mention_terms": 2_000,
    "docs": 1_500,
    "head_share": 0.05,
    "oracle_convs": 12,
}
KEY3 = ["conv_id", "turn_idx", "sent_idx"]


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


def parquet_rows(path: str) -> int:
    """Row count of a parquet file or directory from its footers, without a
    Spark job."""
    files = [path] if os.path.isfile(path) else [
        os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs if f.endswith(".parquet")]
    return sum(pq.read_metadata(f).num_rows for f in files)


# --------------------------------------------------------------------------
# inputs
# --------------------------------------------------------------------------

def _ref_terms() -> list[str]:
    return [t for t in entity_dictionary_pandas()["term"] if len(t) > 2]


def _generate(kind: str, seed: int) -> dict[str, pd.DataFrame]:
    if kind == "ref":
        return {"transcripts": gen.transcripts(seed, SIZES["ref_turns"], _ref_terms(),
                                               SIZES["head_share"]),
                "dictionary": entity_dictionary_pandas()}
    if kind == "big":
        d = gen.gazetteer(seed, n_first=SIZES["big_first_tokens"])
        terms = gen.mention_terms(d, seed, SIZES["big_mention_terms"])
        return {"transcripts": gen.transcripts(seed, SIZES["big_turns"], terms,
                                               SIZES["head_share"]),
                "dictionary": d}
    return {"documents": gen.documents(seed, SIZES["docs"], _ref_terms()),
            "dictionary": entity_dictionary_pandas()}


def _assert_properties(kind: str, tables: dict[str, pd.DataFrame]) -> dict:
    """Input-property assertions; raise ``gen.InputPropertyError`` naming the
    offending statistic."""
    stats = {}
    if "transcripts" in tables:
        stats.update(gen.check_transcripts(tables["transcripts"], SIZES["head_share"]))
    if kind == "big":
        stats.update(gen.check_gazetteer(tables["dictionary"]))
    if kind == "docs":
        stats.update(gen.check_documents(tables["documents"]))
    return stats


INPUT_KIND = {"kg_refdict": "ref", "kg_resume": "ref", "kg_bigdict_model": "big",
              "corpus_nerset": "docs"}


def prepare_inputs(workload: str, seed: int, cache_root: str) -> tuple[dict[str, str], dict]:
    """Parquet inputs for ``(workload, seed)``, generated once into
    ``cache_root`` and re-read from there; the property assertions run on
    what the program will read, every time."""
    kind = INPUT_KIND[workload]
    # the cache key covers the sizes and the generators' source
    with open(gen.__file__, "rb") as f:
        tag = hashlib.sha1(json.dumps(SIZES, sort_keys=True).encode() + f.read()).hexdigest()
    d = os.path.join(cache_root, f"{kind}-s{seed}-{tag[:12]}")
    if not os.path.exists(os.path.join(d, "_DONE")):
        tmp = f"{d}.tmp{os.getpid()}"
        os.makedirs(tmp, exist_ok=True)
        for name, df in _generate(kind, seed).items():
            df.to_parquet(os.path.join(tmp, f"{name}.parquet"), index=False)
        open(os.path.join(tmp, "_DONE"), "w").close()
        shutil.rmtree(d, ignore_errors=True)
        os.replace(tmp, d)
    paths = {f[:-8]: os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet")}
    tables = {k: pd.read_parquet(p) for k, p in paths.items()}
    return paths, _assert_properties(kind, tables)


# --------------------------------------------------------------------------
# output fingerprints
# --------------------------------------------------------------------------

def fingerprint(spark, path: str) -> tuple[int, int]:
    """(rows, order-insensitive sum of per-row xxhash64) of a parquet table."""
    from pyspark.sql import functions as F

    df = spark.read.parquet(path)
    r = df.select(F.count(F.lit(1)).alias("n"),
                  F.coalesce(F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")),
                             F.lit(0)).alias("h")).first()
    return int(r["n"]), int(r["h"])


# --------------------------------------------------------------------------
# workloads
# --------------------------------------------------------------------------

@dataclass
class Workload:
    spark: object
    root: str
    paths: dict[str, str]
    seed: int
    work: str

    fresh_staging = True

    def __post_init__(self):
        pass

    def tables(self, out: str) -> dict[str, str]:
        raise NotImplementedError

    def run_job(self, out: str, staging: str) -> None:
        raise NotImplementedError

    def deep_check(self, out: str) -> list[str]:
        """Oracle-grade checks of one job's outputs; [] when correct."""
        raise NotImplementedError

    def staged(self, tr, out: str, staging: str) -> int:
        """The job one layer at a time under ``tr``'s spans, writing the same
        outputs to ``out``; returns the ``validate_alignment`` violations."""
        raise NotImplementedError

    def written_bytes(self, out: str, staging: str) -> int:
        return dir_bytes(out) + (dir_bytes(staging) if self.fresh_staging else 0)

    def fingerprints(self, out: str) -> dict[str, tuple[int, int]]:
        return {t: fingerprint(self.spark, p) for t, p in self.tables(out).items()}


def _load_kg_submit(root: str):
    spec = importlib.util.spec_from_file_location(
        "kg_submit", os.path.join(root, "jobs", "kg_submit.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class KGWorkload(Workload):
    use_model = False

    def __post_init__(self):
        self._kg_submit = _load_kg_submit(self.root)
        self._golden, self._sample = self._oracle_golden()

    def tables(self, out):
        return {p: os.path.join(out, p) for p in ("triples", "nodes", "edges")}

    def run_job(self, out, staging):
        argv = ["--transcripts", self.paths["transcripts"],
                "--dictionary", self.paths["dictionary"],
                "--output", out, "--staging", staging]
        if self.use_model:
            argv.append("--use-model")
        # the job prints one JSON metrics line; keep the benchmark's stdout ours
        with contextlib.redirect_stdout(io.StringIO()):
            rc = self._kg_submit.main(argv)
        if rc != 0:
            raise RuntimeError(f"kg_submit exited {rc}")

    # --- oracle ------------------------------------------------------------
    def _oracle_golden(self) -> tuple[set[tuple], list[str]]:
        """Golden triples of a seeded sample of conversations, from the
        pandas oracle over the dictionary rows the sample can reach."""
        t = pd.read_parquet(self.paths["transcripts"])
        d = pd.read_parquet(self.paths["dictionary"])
        convs = sorted(t["conv_id"].unique())
        rng = gen.py_rng_for(self.seed, "oracle-sample")
        sample = sorted(rng.sample(convs, min(SIZES["oracle_convs"], len(convs))))
        ts = t[t["conv_id"].isin(sample)]
        g = oracle.golden_triples(ts, oracle_dictionary(d, ts), with_model=self.use_model)
        return set(g.itertuples(index=False, name=None)), sample

    def deep_check(self, out):
        from pyspark.sql import functions as F

        got = {tuple(r) for r in self.spark.read.parquet(os.path.join(out, "triples"))
               .filter(F.col("conv_id").isin(self._sample))
               .select("subj", "pred", "obj").distinct().collect()}
        p, r = oracle.precision_recall(got, self._golden)
        if (p, r) != (1.0, 1.0):
            return [f"oracle triples on {len(self._sample)} sampled conversations: "
                    f"P={p:.4f} R={r:.4f} (missing {sorted(self._golden - got)[:3]}, "
                    f"extra {sorted(got - self._golden)[:3]})"]
        return []

    # --- staged ------------------------------------------------------------
    def staged(self, tr, out, staging):
        return staged_kg(self, tr, out, staging, resume_stage=None)


class KGResume(KGWorkload):
    """Every timed job resumes from the snapshot the set-up job committed."""

    fresh_staging = False

    def committed_stage(self, staging: str) -> str:
        stages = [s for s in os.listdir(staging) if s.startswith("spans-")]
        if len(stages) != 1:
            raise RuntimeError(f"expected one committed span stage in {staging}, got {stages}")
        return stages[0]

    def staged(self, tr, out, staging):
        return staged_kg(self, tr, out, staging, resume_stage=self.committed_stage(staging))


class KGBigDictModel(KGWorkload):
    use_model = True


def oracle_dictionary(d: pd.DataFrame, transcripts: pd.DataFrame) -> pd.DataFrame:
    """Dictionary rows the sampled turns can reach, closed under alias key.

    A row is reachable when every token's lemma occurs among the turns'
    token lemmas (gazetteer and model lemma-key links) or when its
    punctuation-split alias key equals a token's (model alias links).
    Closing under alias key keeps cluster ids equal to the full
    dictionary's, so the oracle stays exact while scanning a few rows."""
    ov = IRREGULAR_PLURALS
    lemmas, akeys = set(), set()
    for text in transcripts["text"].dropna():
        for _, sent in oracle.sentences_of(oracle.clean_text(text)):
            for tok in sent.split(" "):
                lemmas.add(oracle.norm_key(oracle.token_core(tok)[1].lower(), ov))
                akeys.add(oracle.alias_key(re.sub(r"[^A-Za-z0-9]+", " ", tok)))
    reach = d["term"].map(
        lambda term: all(oracle.norm_key(t, ov) in lemmas for t in term.lower().split())
        or oracle.alias_key(re.sub(r"[^A-Za-z0-9]+", " ", term)) in akeys)
    cluster_key = d["term"].map(oracle.alias_key)
    closed = reach | cluster_key.isin(set(cluster_key[reach]) - {""})
    return d[closed].reset_index(drop=True)


def staged_kg(w: KGWorkload, tr, out: str, staging: str, resume_stage: str | None) -> int:
    """``build_kg`` + ``kg_submit``'s sink, one layer at a time: each layer's
    public calls in ``build_kg``'s order, its output written to parquet and
    read back before the next layer runs. A resumed run calls what
    ``build_kg`` calls before the snapshot but materializes nothing there.
    Returns the ``validate_alignment`` violation count."""
    from otar3088_spark.io.checkpoint import SnapshotStore
    from otar3088_spark.operators.canonicalize import entity_clusters, resolve_labels
    from otar3088_spark.operators.inference import (
        link_model_mentions, merge_spans_with_model, model_mentions)
    from otar3088_spark.operators.sentencize import normalize_turns, sentencize
    from otar3088_spark.operators.tagging import prepare_dictionary, tag_mentions
    from otar3088_spark.operators.triples import graph_tables, mention_triples

    spark = w.spark
    mat = Materializer(spark, os.path.join(w.work, "staged-layers"))
    salt = spark.sparkContext.defaultParallelism * 2
    with tr.span("staged"):
        t = spark.read.parquet(w.paths["transcripts"])
        d = spark.read.parquet(w.paths["dictionary"])
        with tr.span("sentencize") as s:
            normalized = tr.call(normalize_turns, t, salt_partitions=salt)
            if resume_stage is None:
                normalized, n_norm = mat.save(normalized, "normalized")
                s["rows_dropped"] = parquet_rows(w.paths["transcripts"]) - n_norm
            sentences = tr.call(sentencize, normalized)
            if resume_stage is None:
                sentences, s["rows_out"] = mat.save(sentences, "sentences")
        with tr.span("tagging") as s:
            dp = tr.call(prepare_dictionary, d)
            spans = tr.call(tag_mentions, sentences, dp, lemma_overrides=IRREGULAR_PLURALS)
            if resume_stage is None:
                spans, s["rows_out"] = mat.save(spans, "dict_spans")
        if w.use_model and resume_stage is None:
            with tr.span("inference") as s:
                linked = tr.call(link_model_mentions, tr.call(model_mentions, sentences), dp,
                                 lemma_overrides=IRREGULAR_PLURALS)
                spans, s["rows_out"] = mat.save(
                    tr.call(merge_spans_with_model, spans, linked), "merged_spans")
        with tr.span("checkpoint") as s:
            store = SnapshotStore(staging)
            stage = resume_stage or "spans-staged"
            if resume_stage is None:
                tr.call(store.write, spans, stage, mode="overwrite")
            spans = tr.call(store.read, spark, stage)
            s["rows_out"] = store.manifest(stage)["total_rows"]
            s["bytes"] = dir_bytes(os.path.join(staging, stage))
        with tr.span("canonicalize") as s:
            resolved, s["rows_out"] = mat.save(tr.call(resolve_labels, spans), "resolved")
            clusters, _ = mat.save(tr.call(entity_clusters, dp), "clusters")
        with tr.span("triples") as s:
            triples, s["rows_out"] = mat.save(tr.call(mention_triples, resolved, clusters),
                                              "triples")
            nodes, edges = tr.call(graph_tables, triples)
            graph = {"triples": triples, "nodes": mat.save(nodes, "nodes")[0],
                     "edges": mat.save(edges, "edges")[0]}
        with tr.span("sink") as s:
            for part, df in graph.items():
                dest = os.path.join(out, part)
                df.write.mode("overwrite").parquet(dest)
                s["rows_out"] = s.get("rows_out", 0) + spark.read.parquet(dest).count()
            s["bytes"] = dir_bytes(out)
    return alignment_violations(spans, sentences)


def alignment_violations(spans, sentences) -> int:
    from otar3088_spark.plans.kg_pipeline import validate_alignment

    return validate_alignment(spans, sentences).count()


class Materializer:
    """Writes a layer's output to parquet and reads it back."""

    def __init__(self, spark, root: str):
        self.spark, self.root = spark, root

    def save(self, df, name: str):
        path = os.path.join(self.root, name)
        df.write.mode("overwrite").parquet(path)
        return self.spark.read.parquet(path), parquet_rows(path)


# --------------------------------------------------------------------------
# corpus_nerset
# --------------------------------------------------------------------------

NEAR_DUP_THRESHOLD = 0.7  # minhash_near_dups' default, restated for the staged path


def _as_turns(docs):
    """Documents in the transcript shape ``normalize_turns`` reads."""
    from pyspark.sql import functions as F

    return docs.select(
        F.format_string("doc_%09d", "doc_id").alias("conv_id"),
        F.lit(0).alias("turn_idx"),
        F.lit("user").alias("role"),
        "text",
        F.lit(None).cast("string").alias("tool"),
        F.lit("2024-01-01 00:00:00").cast("timestamp").alias("ts"),
    )


def _kept(docs):
    """Documents that survive exact dedup (one per normalized text)."""
    from pyspark.sql import functions as F

    from otar3088_spark.operators.dedup import exact_dedup

    keep = exact_dedup(docs).select(F.col("keep_id").alias("doc_id"))
    return docs.join(keep, "doc_id", "left_semi")


def _drop_twins(kept, near_dups):
    from pyspark.sql import functions as F

    return kept.join(near_dups.select(F.col("id2").alias("doc_id")), "doc_id", "left_anti")


def _span_rows(mentions):
    from pyspark.sql import functions as F

    return mentions.select(*KEY3, F.explode("spans").alias("s")).select(*KEY3, "s.*")


class NerSet(Workload):
    def tables(self, out):
        t = {p: os.path.join(out, p) for p in ("near_dups", "mentions", "iob_spans")}
        for split in ("train", "validation"):
            t[split] = os.path.join(out, "dataset", "data", f"{split}-*.parquet")
        return t

    def run_job(self, out, staging):
        from otar3088_spark.operators.dedup import minhash_near_dups
        from otar3088_spark.operators.sentencize import normalize_turns, sentencize
        from otar3088_spark.operators.spans import grouped_spans_to_iob, iob_to_spans
        from otar3088_spark.operators.tagging import prepare_dictionary, tag_mentions_grouped
        from otar3088_spark.plans.training_data import build_ner_dataset

        spark = self.spark
        docs = spark.read.parquet(self.paths["documents"])
        d = spark.read.parquet(self.paths["dictionary"])
        kept = _kept(docs)
        minhash_near_dups(kept).write.parquet(os.path.join(out, "near_dups"))
        survivors = _drop_twins(kept, spark.read.parquet(os.path.join(out, "near_dups")))
        sentences = sentencize(normalize_turns(_as_turns(survivors)))
        tag_mentions_grouped(sentences, prepare_dictionary(d), lemma_overrides=IRREGULAR_PLURALS
                             ).write.parquet(os.path.join(out, "mentions"))
        mentions = spark.read.parquet(os.path.join(out, "mentions"))
        iob_to_spans(grouped_spans_to_iob(mentions)).write.parquet(os.path.join(out, "iob_spans"))
        build_ner_dataset(sentences, _span_rows(mentions), os.path.join(out, "dataset"),
                          staging_dir=staging)

    def deep_check(self, out):
        spark = self.spark
        problems = []
        n_docs = parquet_rows(self.paths["documents"])
        got = {(r["id1"], r["id2"]) for r in
               spark.read.parquet(os.path.join(out, "near_dups")).select("id1", "id2").collect()}
        want = gen.planted_pairs(n_docs)
        tp = len(got & want)
        if got != want:
            problems.append(f"near-dup pairs vs planted twins: P={tp / max(len(got), 1):.4f} "
                            f"R={tp / len(want):.4f}")
        mentions = spark.read.parquet(os.path.join(out, "mentions")).collect()
        expected = merged_iob_spans(mentions)
        iob = {tuple(r) for r in spark.read.parquet(os.path.join(out, "iob_spans")).select(
            *KEY3, "start_pos", "end_pos", "label").collect()}
        if iob != expected:
            problems.append(f"iob_to_spans differs from the merged spans: "
                            f"{len(iob - expected)} extra, {len(expected - iob)} missing")
        tagged = len({s[:3] for s in expected})
        split_rows = parquet_rows(os.path.join(out, "dataset", "data"))
        if split_rows != tagged:
            problems.append(f"train+validation rows {split_rows} != non-all-O sentences {tagged}")
        return problems

    def staged(self, tr, out, staging):
        from pyspark.sql import functions as F

        from otar3088_spark.operators.dedup import (
            jaccard_pairs, lsh_candidate_pairs, minhash_signatures)
        from otar3088_spark.operators.sentencize import normalize_turns, sentencize
        from otar3088_spark.operators.spans import grouped_spans_to_iob, iob_to_spans
        from otar3088_spark.operators.tagging import prepare_dictionary, tag_mentions_grouped
        from otar3088_spark.plans.training_data import build_ner_dataset

        spark = self.spark
        mat = Materializer(spark, os.path.join(self.work, "staged-layers"))
        with tr.span("staged"):
            docs = spark.read.parquet(self.paths["documents"])
            d = spark.read.parquet(self.paths["dictionary"])
            with tr.span("dedup") as s:
                kept, _ = mat.save(tr.call(_kept, docs), "kept")
                cands, n_cands = mat.save(tr.call(lsh_candidate_pairs,
                                                  tr.call(minhash_signatures, kept)), "cands")
                pairs = tr.call(jaccard_pairs, kept, cands)
                near, n_near = mat.save(pairs.filter(F.col("jaccard") >= NEAR_DUP_THRESHOLD),
                                        "near_dups")
                survivors, n_docs = mat.save(_drop_twins(kept, near), "survivors")
                s["rows_out"] = n_docs
                s["candidate_pairs"] = n_cands
                s["pair_yield"] = n_near / n_cands if n_cands else 0.0
            with tr.span("sentencize") as s:
                normalized, n_norm = mat.save(tr.call(normalize_turns, _as_turns(survivors)),
                                              "normalized")
                sentences, s["rows_out"] = mat.save(tr.call(sentencize, normalized), "sentences")
                s["rows_dropped"] = n_docs - n_norm
            with tr.span("tagging") as s:
                dp = tr.call(prepare_dictionary, d)
                mentions, s["rows_out"] = mat.save(
                    tr.call(tag_mentions_grouped, sentences, dp, lemma_overrides=IRREGULAR_PLURALS),
                    "mentions")
            with tr.span("spans") as s:
                iob, _ = mat.save(tr.call(grouped_spans_to_iob, mentions), "iob")
                iob_spans, s["rows_out"] = mat.save(tr.call(iob_to_spans, iob), "iob_spans")
            with tr.span("training_data") as s:
                tr.call(build_ner_dataset, sentences, _span_rows(mentions),
                        os.path.join(out, "dataset"), staging_dir=staging)
                s["rows_out"] = parquet_rows(os.path.join(out, "dataset", "data"))
            with tr.span("sink") as s:
                for name, df in (("near_dups", near.select("id1", "id2", "jaccard")),
                                 ("mentions", mentions), ("iob_spans", iob_spans)):
                    df.write.mode("overwrite").parquet(os.path.join(out, name))
                    s["rows_out"] = s.get("rows_out", 0) + parquet_rows(os.path.join(out, name))
                s["bytes"] = dir_bytes(out) - dir_bytes(os.path.join(out, "dataset"))
        return alignment_violations(_span_rows(mentions), sentences)


def merged_iob_spans(mentions) -> set[tuple]:
    """What ``iob_to_spans(grouped_spans_to_iob(mentions))`` must return,
    computed in Python: each span covers the tokens whose core extent (raw
    extent for punctuation-only tokens) lies inside it; the first covered
    token takes ``B-``, later ones ``I-``, the smallest label wins an
    overlap; then maximal ``B- I-*`` runs of one label are the spans."""
    out = set()
    for row in mentions:
        toks = row["sent_text"].split(" ")
        cs, ce, pos = [], [], 0
        for tok in toks:
            lead, core = oracle.token_core(tok)
            if core:
                cs.append(pos + lead)
                ce.append(pos + lead + len(core))
            else:
                cs.append(pos)
                ce.append(pos + len(tok))
            pos += len(tok) + 1
        ivals = []
        for sp in row["spans"]:
            cov = [i for i in range(len(toks)) if cs[i] >= sp["start"] and ce[i] <= sp["end"]]
            if cov:
                ivals.append((cov[0], cov[-1], sp["label"]))
        tags = []
        for i in range(len(toks)):
            b = [lab for ts, _, lab in ivals if ts == i]
            inside = [lab for ts, te, lab in ivals if ts <= i <= te]
            tags.append(f"B-{min(b)}" if b else f"I-{min(inside)}" if inside else "O")
        key = (row["conv_id"], row["turn_idx"], row["sent_idx"])
        for i, tag in enumerate(tags):
            if tag.startswith("B-"):
                j = i
                while j + 1 < len(tags) and tags[j + 1] == "I-" + tag[2:]:
                    j += 1
                out.add((*key, i, j, tag[2:]))
    return out


WORKLOADS = {"kg_refdict": KGWorkload, "kg_bigdict_model": KGBigDictModel,
             "kg_resume": KGResume, "corpus_nerset": NerSet}
