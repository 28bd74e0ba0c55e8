"""What each metric measures, and which end-to-end number it should move.

Names, units and better-directions live in ``BENCHMARK.json`` at the repo
root; this table adds, for every per-layer metric, the engine layer (module)
it measures and the end-to-end metric and workload it is expected to move --
written down before any change is measured, so a later claim can be checked
against it.  ``run.py`` prints both tables next to the numbers.
"""

from __future__ import annotations

BATCH = ("lexical_batch", "enriched_batch")
ALL = BATCH + ("stream_microbatch",)

# end-to-end metric -> what it measures
END_TO_END = {
    "setup_s": "process start until the SparkSession has run its first job",
    "cold_run_s": "first run_pipeline in a fresh JVM (stream: the first "
                  "micro-batch's triggerExecution)",
    "docs_per_s": "docs / median steady run_pipeline time (stream: docs "
                  "drained / drain wall time)",
    "resume_s": "fastest of 20 run_pipeline calls on a fully checkpointed "
                "workdir (stream: of 5 restarts whose last micro-batch lost "
                "its commit, so it is re-run)",
    "ckpt_bytes_per_input_byte": "bytes of all stage checkpoints / bytes of "
                                 "the docs table (stream: checkpoint + sink)",
    "batch_latency_p50_s": "median job latency: run_pipeline wall (batch), "
                           "micro-batch triggerExecution (stream)",
    "batch_latency_p75_s": "p75 of the same samples (19 steady micro-batches "
                           "on the stream)",
    "peak_rss_mb": "peak RSS of the driver JVM plus the peak summed Pss of "
                   "its Python workers",
}

# per-layer metric -> (layer, end-to-end metric it should move, on which
# workloads)
PER_LAYER = {
    "session.get_spark_s": ("session.get_spark", "setup_s", ALL),
    "mention_detect.wall_s": ("plans.pipeline.detect_mentions + checkpoint",
                              "docs_per_s", ("lexical_batch",)),
    "mention_detect.cpu_s": ("plans.pipeline.detect_mentions + checkpoint",
                             "docs_per_s", ("lexical_batch",)),
    "mention_detect.core_util": ("plans.pipeline.detect_mentions + checkpoint",
                                 "docs_per_s", ("lexical_batch",)),
    "mention_detect.plan_s": ("plans.pipeline.detect_mentions",
                              "docs_per_s", ("lexical_batch",)),
    "mention_detect.gate_pass": ("plans.pipeline.detect_mentions",
                                 "docs_per_s", ("lexical_batch",)),
    "mention_detect.ckpt_bytes": ("plans.checkpoint (mention_detect)",
                                  "ckpt_bytes_per_input_byte", BATCH),
    "link_score.wall_s": ("operators.scoring_batch.select_winners_batch",
                          "docs_per_s", BATCH),
    "link_score.cpu_s": ("operators.scoring_batch.select_winners_batch",
                         "docs_per_s", BATCH),
    "link_score.core_util": ("operators.scoring_batch.select_winners_batch",
                             "docs_per_s", BATCH),
    "link_score.plan_s": ("operators.scoring_batch.select_winners_batch",
                          "batch_latency_p50_s", ("stream_microbatch",)),
    # shuffles of the scorer path itself (0 when the grouped path bypasses
    # them); the checkpoint's repartition of the winners is counted under
    # checkpoint.shuffle_write_bytes
    "link_score.shuffle_write_bytes": (
        "operators.scoring_batch.select_winners_batch", "docs_per_s",
        ("enriched_batch",)),
    "link_score.winners": ("operators.scoring_batch.select_winners_batch",
                           "docs_per_s", BATCH),
    "canonicalize.wall_s": ("operators.go_transfer / interpro_filter / "
                            "connected_components", "docs_per_s",
                            ("enriched_batch",)),
    "canonicalize.shuffle_write_bytes": ("canonicalize stage", "docs_per_s",
                                         ("enriched_batch",)),
    "interpro.read_db_s": ("sources.interpro.read_interpro_db", "cold_run_s",
                           ("enriched_batch",)),
    "interpro.closure_s": ("operators.interpro_filter.interpro_closure",
                           "docs_per_s", ("enriched_batch",)),
    "interpro.closure_jobs": ("operators.interpro_filter.interpro_closure",
                              "docs_per_s", ("enriched_batch",)),
    "cc.wall_s": ("operators.connected_components.connected_components",
                  "docs_per_s", ("enriched_batch",)),
    "cc.jobs": ("operators.connected_components.connected_components",
                "docs_per_s", ("enriched_batch",)),
    "materialize.wall_s": ("plans.pipeline.desc_triples + checkpoint",
                           "docs_per_s", BATCH),
    "materialize.shuffle_write_bytes": ("materialize stage", "docs_per_s",
                                        BATCH),
    "materialize.triples": ("materialize stage", "docs_per_s", BATCH),
    "checkpoint.shuffle_write_bytes": ("CheckpointManager.write (repartition of "
                                       "a stage's output)", "docs_per_s", BATCH),
    "checkpoint.bytes_written": ("plans.checkpoint.CheckpointManager",
                                 "ckpt_bytes_per_input_byte", BATCH),
    "checkpoint.files_written": ("plans.checkpoint.CheckpointManager",
                                 "resume_s", BATCH),
    "checkpoint.lineage_s": ("CheckpointManager.lineage / is_complete",
                             "resume_s", BATCH),
    "pipeline.other_s": ("run_pipeline time outside the stage spans",
                         "docs_per_s", BATCH),
    "stream.add_batch_s": ("streaming.pipeline.stream_triples",
                           "batch_latency_p50_s", ("stream_microbatch",)),
    "stream.engine_s": ("streaming engine (triggerExecution - addBatch)",
                        "batch_latency_p75_s", ("stream_microbatch",)),
    "stream.plan_s": ("detect_mentions + select_winners_batch plan building "
                      "per micro-batch", "batch_latency_p50_s",
                      ("stream_microbatch",)),
    "stream.jobs_per_batch": ("streaming.pipeline.stream_triples",
                              "batch_latency_p50_s", ("stream_microbatch",)),
    "jvm.gc_s": ("JVM", "docs_per_s", ALL),
    "spill_bytes": ("JVM", "peak_rss_mb", ALL),
    "trace.overhead": ("the trace recorder itself", "(none)", ALL),
}
