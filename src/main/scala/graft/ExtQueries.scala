package graft

/** The 100 TB training-data-pipeline extension surface (SURVEY §7.5,
  * BASELINE.json north_star): dedup (exact / n-gram Jaccard / MinHash
  * LSH / SimHash / embedding), similarity search (brute-force, IVF,
  * hyperplane LSH), text analysis (langid / quality / tokens /
  * fingerprint), multimodal metadata, and the incremental-merge
  * streaming equivalent.
  *
  * Sketch operators use the portable md5-hex hash (Dedup.portableHash)
  * so even MinHash/SimHash signatures are bit-reproducible in DuckDB and
  * fully oracle-checked; only the hyperplane-LSH ANN and Porter-based
  * ops are rows-only.
  */
object ExtQueries {

  /** All extension queries — family files concatenated (split in r7;
    * shared artifacts live in [[ExtShared]]).
    */
  val defs: Seq[QueryDef] =
    ExtDedupQueries.defs ++ ExtSimQueries.defs ++ ExtTextQueries.defs ++
      ExtQualityQueries.defs ++ ExtPipeQueries.defs ++
      ExtMmQueries.defs ++ ExtEventQueries.defs ++ ExtStreamQueries.defs
}
