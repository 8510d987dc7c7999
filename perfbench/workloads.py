"""The benchmark's workloads: which of graft's gated queries one pass runs.

A full pass over every gated query of a workload (69 on the analytics
side, 132 on the corpus side) takes 30 s to 150 s on a 4-core box,
longer than one benchmark run may last. Each workload therefore runs a
fixed list with at least one query from each `SparkEntry` section on its
side, except UnigramLm, whose cheapest query alone takes 4 s to build
cold. The queries were picked for cheap builds and cheap oracles. The
lists never depend on the seed; the seed only orders them.
"""

# Sections whose queries read only the fixed tables: scan-, shuffle- and
# operator-bound, no registry artifact.
ANALYTICS = {
    "MapReduce": ["mr_sort", "mr_wordcount"],
    "Extras": ["mr_sketch_topk"],
    "Tera": ["mr_terasort"],
    "Analytics": ["q_pricing_summary", "q_percentiles"],
    "EventStreams": ["stream_sessionize"],
}

# Sections that read `documents`/`embeddings`: served registry artifacts
# mixed with per-document compute. Each query but dedup_exact and
# mm_phash builds (nightly_build) or serves (corpus_serve) an artifact.
CORPUS = {
    "Dedup": ["dedup_exact"],
    "Similarity": ["sim_knn_graph"],
    "TextOps": ["text_langid_model"],
    "Pipeline": ["pipeline_pack"],
    "Multimodal": ["mm_phash"],
    "EventStreams": ["stream_dedup_incremental"],
}

WORKLOADS = {
    # name: (sections, mode, nominal pass seconds). Modes: "fixed" reads
    # the fixed tables and no registry; "serve" builds the registry in
    # set-up and every pass reads it; "build" starts every pass from an
    # empty registry and a fresh copy of the inputs. A run makes
    # round(seconds / nominal) passes, the same number on every run.
    "analytics": (ANALYTICS, "fixed", 5.0),
    "corpus_serve": (CORPUS, "serve", 3.0),
    "nightly_build": (CORPUS, "build", 5.0),
}


def query_list(workload):
    """[(section, query)] of one pass, in a fixed order."""
    sections = WORKLOADS[workload][0]
    return [(s, q) for s, qs in sections.items() for q in qs]
