"""The benchmark workloads: set-up, one iteration, and output checks.

Each iteration makes exactly three timed calls into the package (the
``CALLS`` of the workload, in order); ``Runner.call`` times them and
counts failures. Output checks run once, after the timed window.
"""

from __future__ import annotations

import os
import shutil

import duckdb

# reference tokenizer: split \s+, lower, strip [^a-z], drop empty tokens
_TOKENS = r"""
  SELECT doc_id,
         regexp_replace(lower(unnest(regexp_split_to_array(text, '\s+'))),
                        '[^a-z]', '', 'g') AS word
  FROM read_parquet('{src}')
"""


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _same(con, got: str, want: str) -> str | None:
    """None when the two relations hold the same multiset of rows."""
    extra = con.sql(f"SELECT count(*) FROM (({got}) EXCEPT ALL ({want}))").fetchone()[0]
    missing = con.sql(f"SELECT count(*) FROM (({want}) EXCEPT ALL ({got}))").fetchone()[0]
    if extra or missing:
        return f"{extra} unexpected rows, {missing} missing rows"
    return None


class RefJobs:
    """The paper's three dataflows over one Zipf text corpus."""

    name = "refjobs"
    CALLS = ("wordcount", "invindex", "sort")
    WARMUP = 3  # untimed iterations: a fresh JVM runs the first ones slower
    # timed iterations, however long they take: code still speeds up
    # from pass to pass, so a median over fewer passes would read high
    MIN_TIMED = 4

    def __init__(self, input_dir: str, work_dir: str, manifest: dict):
        self.input_dir, self.work_dir, self.man = input_dir, work_dir, manifest
        self.written: list[str] = []  # ops whose output awaits the check

    def setup(self, spark) -> None:
        from mapreduce_task_spark.sources.tables import load_table

        self.docs = load_table(spark, self.input_dir, "documents")

    def _jobs(self):
        from mapreduce_task_spark.operators.inverted_index import (
            inverted_index_from_text,
        )
        from mapreduce_task_spark.operators.sortops import global_rank
        from mapreduce_task_spark.operators.wordcount import wordcount

        return {
            "wordcount": lambda: wordcount(self.docs),
            "invindex": lambda: inverted_index_from_text(self.docs),
            "sort": lambda: global_rank(self.docs, "text", "doc_id"),
        }

    def iteration(self, runner) -> None:
        # the first (untimed) iteration writes parquet for the output
        # checks; every other iteration forces its jobs with the noop sink
        first = not self.written
        for op, build in self._jobs().items():
            sink = _noop
            if first:
                path = f"{self.work_dir}/check/{op}"
                sink = lambda df, path=path: df.write.mode("overwrite").parquet(path)
                self.written.append(op)
            runner.call(op, "operators", build, sink)

    def check(self, spark) -> list[tuple[str, str | None]]:
        """DuckDB over the same parquet, with the reference tokenizer,
        against the outputs the first iteration wrote."""
        src = f"{self.input_dir}/documents.parquet/*.parquet"
        toks = _TOKENS.format(src=src)
        oracles = {
            "wordcount": f"""SELECT word, count(*) AS cnt FROM ({toks})
                WHERE word <> '' GROUP BY word""",
            "invindex": f"""SELECT word,
                array_to_string(list_sort(list_distinct(list(CAST(doc_id AS VARCHAR)))), ',') AS doc_ids,
                CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
                FROM ({toks}) WHERE word <> '' GROUP BY word""",
            "sort": f"""SELECT doc_id, text,
                row_number() OVER (ORDER BY text, doc_id) AS rk
                FROM read_parquet('{src}')""",
        }
        out = []
        con = duckdb.connect()
        try:
            for op in self.written:
                got = f"SELECT * FROM read_parquet('{self.work_dir}/check/{op}/*.parquet')"
                try:
                    out.append((op, _same(con, got, oracles[op])))
                except duckdb.Error as e:
                    out.append((op, f"cannot compare: {e}"))
        finally:
            con.close()
        return out


class DeltaSearch:
    """Micro-batches appended to a BM25 and an IVF delta index, each
    followed by one BM25 and one IVF delta search: a closed loop with
    one caller, the index-maintenance half of a ``foreachBatch`` crawl
    sink."""

    name = "delta_search"
    CALLS = ("ingest", "bm25_search", "ivf_search")
    WARMUP = 1
    MIN_TIMED = 2
    K = 10  # top-k of every search

    def __init__(self, input_dir: str, work_dir: str, manifest: dict):
        self.input_dir, self.work_dir, self.man = input_dir, work_dir, manifest
        self.epoch = -1
        self.done: list[int] = []  # batches landed in the current epoch
        self.calls = 0
        self.last_bm25 = (None, None)  # (terms, rows) of the last BM25 search
        # per timed batch, traced runs only: what the ingest call stored
        self.storage: list[dict] = []

    # -- set-up: the base indexes the batches append to ----------------
    def setup(self, spark) -> None:
        from mapreduce_task_spark.operators.ranking import bm25_build_index
        from mapreduce_task_spark.operators.similarity import ivf_build_index
        from mapreduce_task_spark.sources.tables import load_table

        self.base_dir = f"{self.work_dir}/setup"
        base = load_table(spark, self.input_dir, "base")
        bm25_build_index(base, spark, f"{self.base_dir}/bm25")
        ivf_build_index(base, f"{self.base_dir}/ivf", id_col="doc_id")
        self.base = base

    # -- the loop ------------------------------------------------------
    def _new_epoch(self) -> None:
        """Fresh copies of the base indexes: the feed restarts at batch
        0 once every batch has landed."""
        self.epoch += 1
        self.dir = f"{self.work_dir}/epoch-{self.epoch}"
        for idx in ("bm25", "ivf"):
            shutil.copytree(f"{self.base_dir}/{idx}", f"{self.dir}/{idx}")
        self.done = []

    def iteration(self, runner) -> None:
        from pyspark.sql import functions as F

        from mapreduce_task_spark.sources.tables import load_table
        from mapreduce_task_spark.streaming import bm25_ingest, ivf_ingest

        if self.epoch < 0 or len(self.done) == len(self.man["batch_ids"]):
            self._new_epoch()
        b = len(self.done)
        bm25_path, ivf_path = f"{self.dir}/bm25", f"{self.dir}/ivf"
        spark = self.base.sparkSession

        def ingest():
            # the two delta-index legs of streaming.crawl.crawl_batch
            batch = load_table(spark, self.input_dir, f"batch-{b:03d}")
            with runner.span("bm25_append", "streaming"):
                bm25_ingest.append_text_batch(batch, b, bm25_path)
            with runner.span("ivf_append", "streaming"):
                ivf_ingest.append_batch(
                    batch.where(F.col("embedding").isNotNull()), b, ivf_path,
                    id_col="doc_id",
                )

        before = count_files(self.dir) if runner.tracer else None
        runner.call("ingest", "streaming", ingest, None, batch=b)
        self.done.append(b)
        if before is not None and runner.phase == "timed":
            files, size = count_files(self.dir)
            in_bytes = sum(
                e.stat().st_size
                for e in os.scandir(f"{self.input_dir}/batch-{b:03d}.parquet")
            )
            self.storage.append({
                "output_mb": (size - before[1]) / 2**20,
                "files_written": files - before[0],
                "stored_bytes_per_input_byte": (size - before[1]) / in_bytes,
                "delta_files": self.delta_files(),
            })

        terms = self.man["bm25_queries"][self.calls % len(self.man["bm25_queries"])]

        def keep(rows):
            # the end-of-run check compares the last answer with bm25_topk
            self.last_bm25 = (terms, [tuple(r) for r in rows])
            return rows

        runner.call(
            "bm25_search",
            "streaming",
            lambda: bm25_ingest.search_with_delta(spark, bm25_path, terms, k=self.K),
            lambda df: keep(df.collect()),
            check=lambda rows: len(rows) > 0,
        )
        src_id, vec = self.man["ivf_queries"][self.calls % len(self.man["ivf_queries"])]
        runner.call(
            "ivf_search",
            "streaming",
            lambda: ivf_ingest.search_with_delta(
                spark,
                ivf_path,
                spark.createDataFrame(
                    [(src_id + 10**9, vec)], "doc_id bigint, embedding array<float>"
                ),
                id_col="doc_id",
                k=self.K,
                nprobe=2,
            ),
            lambda df: sorted(df.collect(), key=lambda r: r["rank"]),
            # the query is a copy of base doc src_id: cosine 1, rank 1
            check=lambda rows: len(rows) == self.K and rows[0]["cand_id"] == src_id,
        )
        self.calls += 1

    def delta_files(self) -> int:
        """Data files the delta searches read (BM25 + IVF delta logs)."""
        roots = [f"{self.dir}/bm25/delta_{n}" for n in ("postings", "df", "stats")]
        roots.append(f"{self.dir}/ivf/delta")
        return sum(count_files(r)[0] for r in roots)

    # -- checks --------------------------------------------------------
    def check(self, spark) -> list[tuple[str, str | None]]:
        from mapreduce_task_spark.operators.ranking import bm25_topk
        from mapreduce_task_spark.sources.tables import load_table

        landed = [load_table(spark, self.input_dir, f"batch-{b:03d}") for b in self.done]
        corpus = self.base
        for batch in landed:
            corpus = corpus.unionByName(batch)

        # the last search ran after the last batch landed, so it saw
        # exactly the state this check rebuilds from scratch
        terms, got_rows = self.last_bm25
        want_rows = [
            tuple(r) for r in bm25_topk(corpus, spark, terms, k=self.K).collect()
        ]
        out = [(
            "bm25",
            None if got_rows == want_rows else
            f"search_with_delta{terms} != bm25_topk over base and landed batches",
        )]

        unembedded = set(self.man["unembedded"])
        n_emb = sum(
            1 for b in self.done for i in self.man["batch_ids"][b] if i not in unembedded
        )
        n_delta = spark.read.parquet(f"{self.dir}/ivf/delta").count()
        out.append((
            "ivf_delta",
            None if n_delta == n_emb else f"ivf delta has {n_delta} rows, want {n_emb}",
        ))
        return out


def count_files(root: str) -> tuple[int, int]:
    """(data files, bytes) under ``root``; hidden and marker files
    (``.crc``, ``_SUCCESS``) are not data."""
    n = size = 0
    for dirpath, _, files in os.walk(root):
        for f in files:
            if f.startswith((".", "_")):
                continue
            n += 1
            size += os.path.getsize(os.path.join(dirpath, f))
    return n, size


WORKLOADS = {w.name: w for w in (RefJobs, DeltaSearch)}
