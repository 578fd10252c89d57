"""pyld_spark — a PySpark-native JSON-LD / knowledge-graph construction engine.

Re-expresses the algorithm family of the reference JSON-LD processor
(/root/reference: context resolution, expansion, flattening, toRDF triple
emission, URDNA2015 blank-node canonicalization, fromRDF, compaction, framing)
as idiomatic Spark dataflow over tables of multi-turn agent transcripts.

Design (see SURVEY.md):
  - the parallel axis is *documents* (conversations): the recursive, dynamically
    shaped JSON-LD tree algorithms run as pure functions inside one
    Arrow-batched per-document runner (``operators/doc_runner.py``:
    ``mapInArrow`` / ``applyInArrow``; no per-row Python UDFs);
  - everything relational (assembly windows, triple projection, dedup,
    hash aggregation, canonicalization fixpoint) is DataFrame/SQL so Catalyst
    gets pushdown/pruning/AQE for free;
  - all orderings that affect output are explicit (`sort_array`,
    `row_number() over (order by ...)`) — never partition order.
"""

__version__ = "0.1.0"
