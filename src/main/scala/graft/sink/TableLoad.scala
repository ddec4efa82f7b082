package graft.sink

import java.sql.{Connection, PreparedStatement, Timestamp}
import java.time.LocalDateTime
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.{DataType, StringType, TimestampNTZType}
import graft.reverse.BulkUpload

/** The one way a DataFrame's rows reach a JDBC table — the bulk load's
  * destination and the sync round's staging table alike. Rows stream
  * through the driver connection (`df.toLocalIterator`), as in the
  * reference's COPY-through-client (`csv_to_postgres.py:86-89`): the
  * dialect's COPY when the connection speaks it, else 1000-row batched
  * INSERTs. The PostgreSQL JDBC driver is reached by reflection
  * (`org.postgresql.copy.CopyManager`), so this module carries no
  * compile-time PostgreSQL dependency; connections without it (Derby)
  * take the INSERT path.
  */
object TableLoad {

  /** Loads `df`'s rows into `table` (already quoted/qualified) on the
    * caller's transaction; commits nothing.
    * @return rows loaded
    */
  def load(conn: Connection, dialect: SqlDialect, table: String, df: DataFrame): Long = {
    val cols = df.columns.toSeq
    // FORCE_NULL only for NON-STRING nullable columns: encodeRow emits
    // NULL as an unquoted empty field and '' as a quoted one, but
    // FORCE_NULL erases that distinction (quoted empty → NULL too), so
    // string columns under COPY would diverge from the batched-INSERT
    // fallback (which stores ''). Non-string types have no empty-string
    // value, so FORCE_NULL is exactly the null-restoration they need.
    val forceNull = df.schema.fields
      .filter(f => f.nullable && f.dataType != StringType).map(_.name).toSeq
    dialect.copyInSql(table, cols, forceNull)
      .flatMap(copyInto(conn, _, df))
      .getOrElse {
        val binders = df.schema.fields.map(f => binder(f.dataType))
        val ps = conn.prepareStatement(
          s"INSERT INTO $table (${cols.map(dialect.quoteIdent).mkString(", ")})" +
            s" VALUES (${cols.map(_ => "?").mkString(", ")})")
        try {
          var count = 0L
          df.toLocalIterator().forEachRemaining { row: Row =>
            binders.indices.foreach(i => binders(i)(ps, i + 1, row.get(i)))
            ps.addBatch()
            count += 1
            if (count % 1000 == 0) ps.executeBatch()
          }
          ps.executeBatch()
          count
        } finally ps.close()
      }
  }

  /** Runs one DDL/DML statement on the caller's transaction. */
  def exec(conn: Connection, sql: String): Unit = {
    val st = conn.createStatement()
    try st.execute(sql) finally st.close()
  }

  /** Sets parameter `i` from a Spark external row value. Spark returns
    * `timestamp_ntz` as `LocalDateTime`, which JDBC drivers need not
    * accept through `setObject` (Derby rejects it with SQLState 22005);
    * `Timestamp.valueOf` keeps its wall-clock fields unchanged.
    */
  private def binder(t: DataType): (PreparedStatement, Int, Any) => Unit = t match {
    case TimestampNTZType => (ps, i, v) =>
      ps.setObject(i, if (v == null) null else Timestamp.valueOf(v.asInstanceOf[LocalDateTime]))
    case _ => (ps, i, v) => ps.setObject(i, v)
  }

  /** Streams `df`'s rows as pgsf-encoded CSV through COPY.
    * @return rows copied, or None when the connection has no COPY
    *         protocol (the caller falls back)
    */
  def copyInto(conn: Connection, copySql: String, df: DataFrame): Option[Long] =
    copyManager(conn).map { case (cm, copyInMethod) =>
      copyInMethod.invoke(cm, copySql, csvReader(df)).asInstanceOf[Long]
    }

  /** The COPY payload: header + pgsf-encoded rows (T1 encoding —
    * booleans t/f, NULL as empty, NUL stripped, ISO8601 timestamps;
    * `query_poll_table.py:21-50`), exposed as a streaming Reader so the
    * whole delta never materializes as one string.
    */
  def csvReader(df: DataFrame): java.io.Reader = new java.io.Reader {
    private val rows = df.toLocalIterator()
    private var buf: String = BulkUpload.header(df.schema) + "\n"
    private var pos = 0
    override def read(cbuf: Array[Char], off: Int, len: Int): Int = {
      while (pos >= buf.length) {
        if (!rows.hasNext) return -1
        buf = BulkUpload.encodeRow(rows.next()) + "\n"
        pos = 0
      }
      val n = math.min(len, buf.length - pos)
      buf.getChars(pos, pos + n, cbuf, off)
      pos += n
      n
    }
    override def close(): Unit = ()
  }

  /** (CopyManager instance, copyIn(String, Reader) method) when the
    * PostgreSQL driver is on the classpath and `conn` unwraps to a PG
    * connection; None otherwise.
    */
  private def copyManager(conn: Connection)
      : Option[(AnyRef, java.lang.reflect.Method)] =
    try {
      val bc = Class.forName("org.postgresql.core.BaseConnection")
        .asInstanceOf[Class[AnyRef]]
      if (!conn.isWrapperFor(bc)) None
      else {
        val cmClass = Class.forName("org.postgresql.copy.CopyManager")
        val cm = cmClass.getConstructor(bc).newInstance(conn.unwrap(bc))
        val m = cmClass.getMethod("copyIn", classOf[String], classOf[java.io.Reader])
        Some(cm.asInstanceOf[AnyRef] -> m)
      }
    } catch {
      case _: ClassNotFoundException => None
      case _: java.sql.SQLException => None
    }
}
