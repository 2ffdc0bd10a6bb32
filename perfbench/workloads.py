"""The three perfbench workloads.

Each workload is a closed loop with one caller: every public call into
``kafi_spark`` starts after the previous one returned, and every call is
forced (collected, counted or written) inside its own span, so a span's
time is the work of the layer it calls. ``run_pass`` performs one
complete pass over the workload's generated input; ``after`` then checks
its result against the generator's ground truth, outside the timed pass.
"""

from __future__ import annotations

import os
import shutil
import time

from pyspark.sql import Observation, functions as F

from perfbench.trace import Tracer


class CheckFailed(Exception):
    pass


def noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _du(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``."""
    size = files = 0
    for d, _, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(d, n))
            files += 1
    return size, files


class Workload:
    """Shared plumbing: timed public calls, checks, per-pass counters."""

    name = ""
    #: discarded passes before timing
    warmup_passes = 1
    #: measured passes a run makes at the least
    min_passes = 1

    def __init__(self, spark, data: str, truth: dict, work: str, tr: Tracer):
        self.spark = spark
        self.data = data
        self.truth = truth
        self.work = work
        self.tr = tr
        self.attempted = 0
        self.split = False  # traced passes add the standalone stage split
        os.makedirs(work, exist_ok=True)

    def call(self, name: str, layer: str, fn, **attrs):
        """One public call, forced inside ``fn``; ``fn`` gets the span's
        attribute dict for counts it learns."""
        self.attempted += 1
        t = time.perf_counter()
        with self.tr.span(name, layer, **attrs) as a:
            out = fn(a)
        self.times[name] = self.times.get(name, 0.0) + time.perf_counter() - t
        return out

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            raise CheckFailed(what)

    def run_pass(self, i: int) -> None:
        """One timed pass; its figures collect in ``times`` and ``extra``."""
        self.times: dict[str, float] = {}
        self.extra: dict[str, float] = {}
        with self.tr.span("perfbench.pass", "perfbench", index=i):
            self.body(i)
            if self.split:
                t = time.perf_counter()
                self.stage_split(i)
                self.extra["split_s"] = time.perf_counter() - t

    def figures(self) -> dict:
        """Per-pass figures of the last pass, ``after`` included."""
        return {"times": self.times, **self.extra}

    def start(self) -> None:
        """Set-up that belongs to the program (timed as set-up)."""

    def exhausted(self) -> bool:
        return False

    def close(self) -> None:
        pass

    def prepare(self, i: int) -> None:
        """Untimed clean-up before pass ``i``."""

    def body(self, i: int) -> None:
        raise NotImplementedError

    def after(self, i: int) -> None:
        """Untimed, right after pass ``i``: the checks and the sizes whose
        cost grows with the data."""

    def stage_split(self, i: int) -> None:
        pass

    def cross_check(self) -> None:
        """Extra checks made once per run, after the timed passes."""


# -- topic_io -----------------------------------------------------------------

class TopicIO(Workload):
    name = "topic_io"

    def __init__(self, *a):
        super().__init__(*a)
        from kafi_spark.storage import Local

        self.store = Local(self.spark, os.path.join(self.work, "store"))
        self.schema = self.truth["avro_schema"]

    def prepare(self, i: int) -> None:
        if i > 0 and self.store.exists(f"orders_{i - 1}"):
            self.store.delete(f"orders_{i - 1}")
            self.store.delete_group(f"g_{i - 1}")

    def body(self, i: int) -> None:
        from kafi_spark.sources.avro import from_avro_df, to_avro_df

        t = self.truth
        store, topic, group = self.store, f"orders_{i}", f"g_{i}"
        n = t["messages"]
        self.call("sources.fs_topic.create", "sources.fs_topic",
                  lambda a: store.create(topic, partitions=t["partitions"]))
        src = self.spark.read.parquet(os.path.join(self.data, "messages.parquet"))
        value = F.struct("id", "user", "amount_cents", "qty", "note")
        for b, size in enumerate(t["batch_sizes"]):
            rows = src.filter(F.col("batch") == b).select(
                F.col("key").cast("binary").alias("key"), "tombstone",
                value.alias("value"))

            def encode(a, rows=rows):
                enc = to_avro_df(rows, "value", self.schema)
                enc = enc.select("key", F.when(
                    F.col("tombstone"), F.lit(None).cast("binary")
                ).otherwise(F.col("value")).alias("value"))
                return enc.localCheckpoint()

            enc = self.call("sources.avro.to_avro_df", "sources.avro", encode,
                            rows_in=size, rows_out=size)
            self.call("sources.fs_topic.produce", "sources.fs_topic",
                      lambda a: store.produce(topic, enc), rows_in=size)

            def resume(a):
                got = store.consume(topic, group=group, commit=True).count()
                a["rows_out"] = got
                return got

            got = self.call("sources.fs_topic.consume", "sources.fs_topic",
                            resume)
            self.check(got == size, f"group resume read {got} rows of batch "
                       f"{b}, wrote {size}")

        def decode(a):
            dec = from_avro_df(store.consume(topic), "value", self.schema,
                               out="rec")
            payload = F.concat_ws("|", *[F.col(f"rec.{c}") for c in
                                         ("id", "user", "amount_cents", "qty",
                                          "note")])
            rows = dec.groupBy("partition").agg(
                F.count(F.lit(1)).alias("n"),
                F.min("offset").alias("lo"), F.max("offset").alias("hi"),
                F.countDistinct("offset").alias("distinct"),
                F.count("value").alias("live"),
                F.sum(F.when(F.col("value").isNotNull(),
                             F.crc32(payload.cast("binary")))).alias("crc"),
            ).collect()
            a["rows_in"] = sum(r.n for r in rows)
            a["rows_out"] = sum(r.live for r in rows)
            return rows

        parts = self.call("sources.avro.from_avro_df", "sources.avro", decode)
        self.check(sum(r.n for r in parts) == n,
                   f"read {sum(r.n for r in parts)} rows, wrote {n}")
        for r in parts:
            self.check(r.lo == 0 and r.hi == r.n - 1 and r.distinct == r.n,
                       f"partition {r.partition} offsets not contiguous from 0")
        self.check(sum(r.crc or 0 for r in parts) == t["payload_crc_sum"],
                   "avro round trip changed the payload digest")

        def grep(a):
            got = store.grep(topic, t["grep_pattern"]).count()
            a["rows_in"], a["rows_out"] = n, got
            return got

        hits = self.call("shell.grep", "shell", grep)
        self.check(hits == t["grep_hits"],
                   f"grep matched {hits}, expected {t['grep_hits']}")
        wc = self.call("shell.wc", "shell",
                       lambda a: store.wc(topic).collect()[0], rows_in=n)
        self.check(wc.n_messages == n, f"wc counted {wc.n_messages} of {n}")

        def compact(a):
            c = from_avro_df(store.compact(topic), "value", self.schema,
                             out="rec")
            rows = c.select(F.col("key").cast("string").alias("key"),
                            F.col("rec.id").alias("id")).collect()
            a["rows_in"], a["rows_out"] = n, len(rows)
            return {r.key: r.id for r in rows}

        self.live = self.call("addons.compact", "addons", compact)
        stats = self.call("addons.message_size_stats", "addons",
                          lambda a: store.message_size_stats(topic).collect()[0],
                          rows_in=n)
        self.check(stats.total_bytes == wc.n_bytes == t["topic_bytes"],
                   f"topic bytes: message_size_stats {stats.total_bytes}, wc "
                   f"{wc.n_bytes}, written {t['topic_bytes']}")
        self.extra["encode_bytes"] = stats.total_bytes - t["key_bytes"]
        write = ("sources.avro.to_avro_df", "sources.fs_topic.produce")
        read = ("sources.fs_topic.consume", "sources.avro.from_avro_df",
                "shell.grep", "shell.wc", "addons.compact",
                "addons.message_size_stats")
        self.extra["write_msgs_per_s"] = n / sum(self.times[k] for k in write)
        # every read verb scans the whole topic; the group resumes scan it
        # once between them
        self.extra["read_msgs_per_s"] = len(read) * n / sum(
            self.times[k] for k in read)

    def after(self, i: int) -> None:
        self.check(self.live == self.truth["live"], "compact did not return "
                   "exactly the live keys with their last values")
        self.extra["compact_keys_out_ratio"] = (len(self.live)
                                                / self.truth["messages"])
        data_bytes, files = _du(os.path.join(self.store.root, "topics",
                                             f"orders_{i}"))
        self.extra.update(produce_files_written=files,
                          produce_bytes_written=data_bytes)


# -- curate_batch -------------------------------------------------------------

class CurateBatch(Workload):
    name = "curate_batch"

    def inputs(self):
        docs = self.spark.read.parquet(os.path.join(self.data, "docs.parquet"))
        ev = self.spark.read.parquet(os.path.join(self.data, "eval.parquet"))
        return docs, ev

    def body(self, i: int) -> None:
        from kafi_spark.functions.pipeline import curate_documents_extended

        t = self.truth
        docs, ev = self.inputs()
        out = self.call(
            "functions.pipeline.curate_documents_extended", "functions.pipeline",
            lambda a: curate_documents_extended(
                docs, span_tokens=t["span_tokens"], eval_df=ev,
                decontam_n=t["decontam_n"]),
            rows_in=t["docs"])
        self.extra["construct_s"] = self.times[
            "functions.pipeline.curate_documents_extended"]

        def action(a):
            rows = out.collect()
            a["rows_out"] = len(rows)
            return rows

        rows = self.call("functions.pipeline.curate_documents_extended.action",
                         "functions.pipeline", action)
        self.extra["action_s"] = self.times[
            "functions.pipeline.curate_documents_extended.action"]
        self.extra["docs_per_s"] = t["docs"] / (self.extra["construct_s"]
                                                + self.extra["action_s"])
        self.kept = {r.doc_id for r in rows}

    def after(self, i: int) -> None:
        t, kept = self.truth, self.kept
        for g in t["near_dup_groups"] + t["exact_dup_groups"]:
            self.check(len(kept.intersection(g)) == 1,
                       f"duplicate group {g} kept {sorted(kept.intersection(g))}")
        self.check(not kept.intersection(t["leaked_ids"]),
                   "planted eval leaks survived decontamination")
        self.check(kept == set(t["survivors"]),
                   f"{len(kept ^ set(t['survivors']))} documents differ from "
                   "the expected survivors")

    def stage_split(self, i: int) -> None:
        """The pipeline is one lazy plan, so spans around it cannot split
        its stages: run each stage's operator standalone on the input."""
        from kafi_spark.functions.contamination import decontaminate
        from kafi_spark.functions.dedup import (keep_representatives,
                                                minhash_lsh_pairs)
        from kafi_spark.functions.spans import span_dedup
        from kafi_spark.functions.text import text_stats

        t = self.truth
        docs, ev = self.inputs()
        n = t["docs"]
        self.call("functions.text.text_stats", "functions.text",
                  lambda a: noop_write(text_stats(docs)), rows_in=n)

        def spans(a):
            obs = Observation("span_dedup")
            noop_write(span_dedup(docs, span_tokens=t["span_tokens"]).observe(
                obs, F.sum("n_spans_kept").alias("kept"),
                F.count(F.lit(1)).alias("docs")))
            a["rows_out"] = obs.get["docs"]
            self.extra["spans_removed"] = t["spans_total"] - obs.get["kept"]

        self.call("functions.spans.span_dedup", "functions.spans", spans,
                  rows_in=n)

        def decon(a):
            obs = Observation("decontaminate")
            noop_write(decontaminate(docs, ev, n=t["decontam_n"]).observe(
                obs, F.count(F.lit(1)).alias("docs")))
            a["rows_out"] = obs.get["docs"]
            self.extra["docs_dropped"] = n - obs.get["docs"]

        self.call("functions.contamination.decontaminate",
                  "functions.contamination", decon, rows_in=n)

        def pairs(a):
            # threshold 0 keeps every verified candidate with its Jaccard,
            # so candidates and verified pairs come from one call
            p = minhash_lsh_pairs(docs, "text", "doc_id",
                                  threshold=0.0).localCheckpoint()
            r = p.agg(F.count(F.lit(1)).alias("cand"),
                      F.sum((F.col("jaccard") >= 0.7).cast("long"))
                      .alias("ver")).collect()[0]
            a["rows_out"] = r.cand
            self.extra.update(candidate_pairs=r.cand,
                              verified_pairs=r.ver or 0)
            return p.filter(F.col("jaccard") >= 0.7)

        verified = self.call("functions.dedup.minhash_lsh_pairs",
                             "functions.dedup", pairs, rows_in=n)
        self.call("functions.dedup.keep_representatives", "functions.dedup",
                  lambda a: keep_representatives(
                      verified, docs.select("doc_id"), "doc_id").count())


# -- stream_epochs ------------------------------------------------------------

def wordcount_topology():
    """Document frequency per word: flatmap -> distinct -> group_by_count."""
    from kafi_spark.streaming.topology import Topology

    t = Topology()
    (t.source("docs")
     .flatmap(F.split(F.col("text"), " "), "word", keep=["doc_id"])
     .distinct()
     .group_by_count(["word"], alias="n")
     .sink("df"))
    return t


def doc_freq(survivors: dict) -> dict[str, int]:
    out: dict[str, int] = {}
    for text, _ in survivors.values():
        for w in set(text.split()):
            out[w] = out.get(w, 0) + 1
    return out


class StreamEpochs(Workload):
    """One long-running query over a directory the loop feeds one epoch
    file at a time; a pass is one epoch, from the file's arrival to its
    committed batch. State and the counts topic keep growing over the
    run, warm-up epochs included."""

    name = "stream_epochs"
    #: epoch cost still falls by a tenth from the second epoch to the
    #: third (JIT), so two epochs are discarded
    warmup_passes = 2
    #: an epoch is short next to a batch pass, so a run measures a few
    min_passes = 3
    PHASES = ("latestOffset", "queryPlanning", "getBatch", "addBatch",
              "walCommit", "commitOffsets")

    def __init__(self, *a):
        super().__init__(*a)
        from kafi_spark.storage import Local

        self.store = Local(self.spark, os.path.join(self.work, "store"))
        self.src_dir = os.path.join(self.data, "epochs")
        self.in_dir = os.path.join(self.work, "in")
        self.state_dir = os.path.join(self.work, "state")
        self.files = sorted(os.listdir(self.src_dir))
        self.want = {int(k): tuple(v)
                     for k, v in self.truth["survivors"].items()}
        self.survivors: dict[int, tuple[str, int]] = {}
        self.outputs: list = []  # checkpointed survivors of the last epoch
        self.epochs = 0
        self.topic = "counts"
        self.topic_size = (0, 0)  # (bytes, files) after the last epoch
        self.q = None

    @property
    def items(self) -> int:
        return self.truth["docs_per_epoch"]

    def start(self) -> None:
        from kafi_spark.streaming.incremental import IncrementalRunner
        from kafi_spark.streaming.stateful import span_dedup_stream

        os.makedirs(self.in_dir)
        self.store.create(self.topic, partitions=4)
        runner = self.runner = IncrementalRunner(wordcount_topology(),
                                                 self.spark)

        def sink(out, epoch_id):
            # the dedup itself runs here, lazily: it stays in the
            # stateful layer's span (no child span around it); the
            # checkpoint is read back in after(), outside the timed pass
            out = out.localCheckpoint()
            self.outputs.append(out)
            deltas = self.call(
                "streaming.incremental.IncrementalRunner.step",
                "streaming.incremental",
                lambda a: runner.step({"docs": out.select("doc_id", "text")}))
            msgs = deltas["df"].select(
                F.col("word").cast("binary").alias("key"),
                F.to_json(F.struct("n", "weight")).cast("binary")
                .alias("value"))
            self.call("sources.fs_topic.produce", "sources.fs_topic",
                      lambda a: self.store.produce(self.topic, msgs))

        process = span_dedup_stream("text", "doc_id", self.state_dir,
                                    span_tokens=self.truth["span_tokens"],
                                    sink=sink)

        def each_batch(df, epoch_id):
            self.call("streaming.stateful.span_dedup_stream",
                      "streaming.stateful", lambda a: process(df, epoch_id))

        # keep every epoch's progress, not only the last 100
        self.spark.conf.set("spark.sql.streaming.numRecentProgressUpdates",
                            "100000")
        self.q = (self.spark.readStream.schema("doc_id long, text string")
                  .option("maxFilesPerTrigger", 1).parquet(self.in_dir)
                  .writeStream.foreachBatch(each_batch)
                  .option("checkpointLocation",
                          os.path.join(self.work, "ckpt"))
                  .start())

    def exhausted(self) -> bool:
        return self.epochs >= len(self.files)

    def body(self, i: int) -> None:
        e = self.epochs
        name = self.files[e]
        # hidden while copied: the file source skips names starting '.'
        tmp = os.path.join(self.in_dir, "." + name)
        shutil.copyfile(os.path.join(self.src_dir, name), tmp)

        def epoch(a):
            os.rename(tmp, os.path.join(self.in_dir, name))
            self.q.processAllAvailable()

        self.call("streaming.epoch.processAllAvailable", "streaming.epoch",
                  epoch, rows_in=self.items)
        self.epochs += 1

    def after(self, i: int) -> None:
        e = self.epochs - 1
        got = {}
        for out in self.outputs:
            for r in out.collect():
                got[r.doc_id] = (r.text, r.n_spans_kept)
        self.outputs.clear()
        self.survivors.update(got)
        lo, hi = e * self.items, (e + 1) * self.items
        want = {d: v for d, v in self.want.items() if lo <= d < hi}
        self.check(got == want, f"epoch {e}: streamed survivors differ from "
                   "span_dedup(keep='first')")
        state_bytes, _ = _du(self.state_dir)
        topic_bytes, topic_files = _du(
            os.path.join(self.store.root, "topics", self.topic))
        self.extra.update(
            batch_id=e, state_bytes=state_bytes,
            produce_bytes_written=topic_bytes - self.topic_size[0],
            produce_files_written=topic_files - self.topic_size[1],
            state_delta_dirs=sum(d.startswith("v=")
                                 for d in os.listdir(self.state_dir)),
            state_bytes_per_epoch=state_bytes / self.epochs)
        self.topic_size = (topic_bytes, topic_files)

    def progress(self) -> dict[int, dict]:
        """batchId -> durationMs of every epoch that read input."""
        return {p.batchId: {**p.durationMs, "input_rows": p.numInputRows}
                for p in self.q.recentProgress if p.numInputRows > 0}

    def cross_check(self) -> None:
        """After the loop, outside the timed passes: one batch per epoch;
        latest == the survivors' document frequencies == Topology.build_batch
        over them; streamed survivors == batch span_dedup over the epochs
        fed; the counts topic integrates to latest."""
        from kafi_spark.functions.spans import span_dedup

        # numInputRows counts every scan of the batch, so only the batch
        # ids are checked: one batch per epoch fed
        batches = sorted(self.progress())
        self.check(batches == list(range(self.epochs)),
                   f"{self.epochs} epochs fed, batches {batches} read input")
        want = {d: v for d, v in self.want.items()
                if d < self.epochs * self.items}
        latest = self.runner.latest("df")
        rows = latest.filter(F.col("weight") > 0).collect()
        freq = doc_freq(want)
        self.check({r.word: r.n for r in rows} == freq,
                   "IncrementalRunner.latest differs from the survivors' "
                   "word document frequencies")
        surv = self.spark.createDataFrame(
            [(k, v[0]) for k, v in sorted(want.items())],
            "doc_id long, text string")
        built = wordcount_topology().build_batch({"docs": surv})["df"]
        cols = ("word", "n", "weight")
        self.check(sorted(map(tuple, built.select(*cols).collect()))
                   == sorted(map(tuple, latest.select(*cols).collect())),
                   "IncrementalRunner.latest differs from build_batch")
        docs = self.spark.read.parquet(self.in_dir)
        batch = {r.doc_id: (r.text, r.n_spans_kept) for r in span_dedup(
            docs, span_tokens=self.truth["span_tokens"], keep="first"
        ).collect()}
        self.check(batch == want, "batch span_dedup differs from the "
                   "streamed survivors")
        msgs = self.store.consume(self.topic).select(
            F.col("key").cast("string").alias("word"),
            F.from_json(F.col("value").cast("string"),
                        "n long, weight long").alias("v"))
        net = (msgs.groupBy("word", "v.n").agg(F.sum("v.weight").alias("w"))
               .filter(F.col("w") > 0).collect())
        self.check({r.word: r.n for r in net} == freq,
                   "the counts topic does not integrate to latest")

    def state_rows(self) -> int:
        return sum(self.runner.state_rows().values())

    def close(self) -> None:
        if self.q is not None:
            self.q.stop()


# -- topic_curate -------------------------------------------------------------

class TopicCurate(Workload):
    """A ``topic_io`` pass, then a ``curate_batch`` pass, in one session:
    the batch-side layers of both for one JVM start and one warm-up, which
    is most of what a run costs. Each part keeps its own inputs, checks
    and figures; the pass reports each part's wall time too."""

    name = "topic_curate"

    def __init__(self, spark, data: str, truth: dict, work: str, tr: Tracer):
        super().__init__(spark, data, truth, work, tr)
        self.parts = [cls(spark, os.path.join(data, cls.name), truth[cls.name],
                          os.path.join(work, cls.name), tr)
                      for cls in (TopicIO, CurateBatch)]

    @property
    def attempted(self) -> int:
        return sum(p.attempted for p in self.parts)

    @attempted.setter
    def attempted(self, n: int) -> None:
        pass  # counted by the parts

    def prepare(self, i: int) -> None:
        for p in self.parts:
            p.prepare(i)

    def run_pass(self, i: int) -> None:
        self.times, self.extra = {}, {}
        with self.tr.span("perfbench.pass", "perfbench", index=i):
            for p in self.parts:
                p.split = self.split
                t = time.perf_counter()
                p.run_pass(i)
                self.extra[f"{p.name}_wall_s"] = time.perf_counter() - t

    def after(self, i: int) -> None:
        for p in self.parts:
            p.after(i)
            self.times.update(p.times)
            self.extra.update(p.extra)
        self.extra["split_s"] = sum(p.extra.get("split_s", 0.0)
                                    for p in self.parts)


WORKLOADS = {w.name: w for w in (TopicIO, CurateBatch, StreamEpochs,
                                 TopicCurate)}
