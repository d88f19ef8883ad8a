package graft.cdc

import graft.sources.CdcChunkSource
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The reference's session lifecycle as a small facade — what a user of
  * `InformixCdc` writes today maps line-for-line
  * (informixcdc.py:12-39, ext/_informixcdcmodule.ec:1925-2226):
  *
  * {{{
  * // reference                        // this engine
  * cdc = InformixCdc('srv', id=7)      val cdc = CdcSession(CdcConfig(id = 7))
  * cdc.connect(user, passwd)           //   (SparkSession plays the connection)
  * cdc.enable(db, owner, tab, cols)    .enable(tabid = 1, "db:owner.tab")
  * cdc.activate(seq_number)            .activate(spark, chunkDir, seq)
  * for record in cdc: ...              // → streaming DataFrame of records
  * }}}
  *
  * `activate` resolves the start LSN with the ec:2172-2194 decision table
  * ([[Restart.resolveStartSeq]]) — explicit `seq >= 0` wins; the default
  * `-1` resumes from supplied savepoint state (or the stream start without
  * savepoints) — then returns the unbounded envelope DataFrame from the
  * DataSource V2 source, with `max_records` mapped to the per-micro-batch
  * admission cap. Callers attach their own transforms and sink (the
  * full materialization pipeline lives in graft.streaming.CdcPipeline).
  */
final case class CdcSession(config: CdcConfig = CdcConfig(),
                            names: Map[Int, String] = Map.empty) {

  /** Register a table for capture (`enable`, ec:1994-2077): tabid → name.
    * Column projection happens server-side in the reference; here the
    * TABSCHEM frames in the stream carry the captured columns. */
  def enable(tabid: Int, tabname: String): CdcSession =
    copy(names = names.updated(tabid, tabname))

  /** Registry seeded with the enabled table names (schemas arrive in-band). */
  def registry: SchemaRegistry = SchemaRegistry(names)

  /** Start the stream (`activate`, ec:2079-2226): resolve the activation
    * LSN from the decision table, then return the streaming envelope
    * DataFrame positioned there.
    *
    * @param seqNumber     explicit start LSN; -1 (default) resolves from
    *                      savepoint state
    * @param minOpenTxn    earliest open transaction's seq, if tracked
    * @param lastCommitted highest committed LSN from the savepoint store
    */
  def activate(spark: SparkSession, chunkDir: String, seqNumber: Long = -1L,
               minOpenTxn: Option[Long] = None,
               lastCommitted: Long = 0L): DataFrame = {
    val startSeq = Restart.resolveStartSeq(seqNumber, config.useSavepoints,
      minOpenTxn, lastCommitted)
    // Thread the enable() registrations through to the source (the
    // registry-slot write of ec:2061-2062) — without this the source only
    // knows the fixture default map.
    CdcChunkSource.stream(spark, chunkDir,
      math.max(1, config.maxRecords / 100), startSeq, tabnames = names)
  }
}
