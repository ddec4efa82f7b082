package graft.sync

import java.sql.Connection
import org.apache.spark.sql.DataFrame
import graft.sink.{SqlDialect, TableLoad}
import graft.sources.salesforce.{BatchInfo, BulkManifest, JobInfo}

/** K2 + C4 assembled: the one-call truncate-and-load of a completed
  * bulk extract job (`csv_to_postgres.py:48-97`) ending in sync-state
  * bootstrap registration (`synctable.py:83-106`). All inside ONE
  * transaction on the driver connection:
  *
  *   1. abort on any Failed batch; refuse a zero-record job (the
  *      empty-job guard protecting the destination from a broken
  *      extract, `csv_to_postgres.py:66,91-92`);
  *   2. truncate the destination;
  *   3. load every Completed batch (F4 filter — NotProcessed chunking
  *      artifacts skipped, `csv_to_postgres.py:73-81`);
  *   4. register `__sync` with the JOB's systemModstamp — the server
  *      timestamp of the extract, never the wall clock — status ready
  *      (C4), so incremental sync takes over from exactly where the
  *      full load stopped.
  *
  * A crash anywhere rolls the whole transaction back: the destination
  * keeps its previous contents and `__sync` its previous watermark.
  *
  * Each batch DataFrame streams through the driver connection via
  * [[graft.sink.TableLoad.load]] — faithful to the reference's
  * COPY-through-client design and bounded by the job's extract size.
  */
object BulkLoad {

  /** @param batchData resolves one Completed batch to its rows (the
    *                   connector partition, a staged CSV, or a fixture)
    * @return rows loaded
    */
  def bulkLoad(job: JobInfo, cfg: SyncConfig, conn: Connection,
      dialect: SqlDialect, state: SyncStateStore,
      batchData: BatchInfo => DataFrame): Long = {
    val failed = BulkManifest.failedBatches(job)
    require(failed.isEmpty,
      s"bulk job ${job.id} has failed batches: ${failed.map(_.id).mkString(", ")}")
    BulkManifest.requireNonEmpty(job)
    val modstamp = job.systemModstamp.getOrElse(throw new IllegalArgumentException(
      s"bulk job ${job.id} carries no systemModstamp — cannot register sync state"))
    val dest = dialect.qualified(cfg.schema, cfg.tablename)
    try {
      TableLoad.exec(conn, dialect.truncateSql(dest))
      val total = BulkManifest.loadableBatches(job)
        .map(b => TableLoad.load(conn, dialect, dest, batchData(b))).sum
      state.register(cfg.tablename, modstamp)
      conn.commit() // truncate + load + C4 registration: atomic
      total
    } catch {
      case e: Throwable =>
        conn.rollback()
        throw e
    }
  }
}
