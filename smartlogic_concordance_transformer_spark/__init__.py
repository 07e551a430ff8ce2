"""PySpark-native knowledge-graph construction engine.

A from-scratch re-expression of the query/data-processing capabilities of
Financial-Times/smartlogic-concordance-transformer (reference at
/root/reference, Go) as a batch DataFrame pipeline over a table of
source-code repositories:

    source_repos(repo, path, commit, lang, content)   # content = JSON-LD payload

Pipeline stages (see SURVEY.md section 2 for the operator map):

    transform  -- parse + validation + deterministic UUID derivation +
                  concordance assembly in one Arrow-batched pandas UDF
                  (pyfold.py); byte-exact UPP concordance JSON
    triples    -- (subj, pred, obj) edge/node emission + tombstone ops
    cc         -- iterative connected components for entity linking
    io_tables  -- partitioned sink + checkpoint ledger (resume)
    pipeline   -- the batch KG job; streaming -- the same job per micro-batch
    datapipe   -- dedup / similarity / text-analysis operators and the
                  pretraining-data curation cascade
"""

__version__ = "0.1.0"
