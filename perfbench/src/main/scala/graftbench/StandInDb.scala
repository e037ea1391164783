package graftbench

import java.lang.reflect.{InvocationHandler, Method, Proxy}
import java.sql.{Connection, DriverPropertyInfo, PreparedStatement, SQLException}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer

/** In-process stand-in database behind a real `java.sql.Driver`, so graft's
  * own `JdbcSink` runs unchanged: bind, `addBatch`, `executeBatch` every
  * `maxBatch` rows, commit, one connection per written partition.
  *
  * Each database (`jdbc:graftbench:<db>`) holds one table keyed on the
  * mapping's upsert keys. A committed row is applied as a last-wins upsert
  * on those keys; a key with a NULL component never conflicts (PostgreSQL
  * unique-constraint semantics). Rows bound but not committed when the
  * connection closes are discarded. Numbers measured through it are the
  * stand-in's, not PostgreSQL's: nothing is parsed, planned, logged or
  * fsynced. PostgreSQL's `ON CONFLICT` dialect is accepted as is.
  */
object StandInDb {
  val Prefix = "jdbc:graftbench:"

  final class Table(val keyCols: Seq[String]) {
    val rows = new ConcurrentHashMap[Seq[Any], Map[String, Any]]()
    private val serial = new AtomicLong
    val connections, flushes, commits, rowsCommitted = new AtomicLong

    private[StandInDb] def apply(batch: Seq[Map[String, Any]]): Unit = synchronized {
      batch.foreach { r =>
        val key = keyCols.map(r)
        rows.put(if (key.contains(null)) Seq(serial.incrementAndGet()) else key, r)
      }
      rowsCommitted.addAndGet(batch.size)
    }
  }

  private val dbs = new ConcurrentHashMap[String, Table]()

  def create(db: String, keyCols: Seq[String]): Table = {
    val t = new Table(keyCols)
    dbs.put(db, t)
    t
  }

  def url(db: String): String = Prefix + db

  private val InsertRe = """(?s)INSERT INTO \S+ \(([^)]*)\) VALUES .*""".r

  private def unsupported(m: Method) =
    throw new SQLException(s"stand-in database does not implement ${m.getName}")

  private def proxy[T](cls: Class[T])(h: (Method, Array[AnyRef]) => AnyRef): T =
    Proxy.newProxyInstance(getClass.getClassLoader, Array[Class[_]](cls),
      new InvocationHandler {
        def invoke(p: AnyRef, m: Method, args: Array[AnyRef]): AnyRef =
          if (m.getName == "toString") s"StandInDb.${cls.getSimpleName}" else h(m, args)
      }).asInstanceOf[T]

  private def connection(t: Table): Connection = {
    t.connections.incrementAndGet()
    val pending = ArrayBuffer.empty[Map[String, Any]]
    proxy(classOf[Connection]) { (m, args) =>
      m.getName match {
        case "setAutoCommit" | "close" | "rollback" => pending.clear(); null
        case "commit" =>
          t.apply(pending.toSeq); pending.clear(); t.commits.incrementAndGet(); null
        case "prepareStatement" => statement(t, args(0).asInstanceOf[String], pending)
        case "isClosed" => java.lang.Boolean.FALSE
        case _ => unsupported(m)
      }
    }
  }

  private def statement(t: Table, sql: String,
      pending: ArrayBuffer[Map[String, Any]]): PreparedStatement = {
    val cols = sql match {
      case InsertRe(list) => list.split(",").map(_.trim.stripPrefix("\"").stripSuffix("\"")).toSeq
      case _ => throw new SQLException(s"stand-in database accepts only INSERT: $sql")
    }
    if (t.keyCols.nonEmpty && !sql.contains(" ON CONFLICT "))
      throw new SQLException(s"keyed table needs an upsert statement: $sql")
    val bound = new Array[Any](cols.size)
    val batch = ArrayBuffer.empty[Map[String, Any]]
    proxy(classOf[PreparedStatement]) { (m, args) =>
      m.getName match {
        case "setObject" | "setTimestamp" | "setString" | "setDouble" | "setLong" | "setInt" =>
          bound(args(0).asInstanceOf[Integer] - 1) = args(1); null
        case "setNull" => bound(args(0).asInstanceOf[Integer] - 1) = null; null
        case "addBatch" => batch += cols.zip(bound).toMap; null
        case "executeBatch" =>
          t.flushes.incrementAndGet()
          val n = batch.size
          pending ++= batch; batch.clear()
          Array.fill(n)(1)
        case "close" | "clearParameters" => null
        case _ => unsupported(m)
      }
    }
  }

  final class Driver extends java.sql.Driver {
    def acceptsURL(url: String): Boolean = url != null && url.startsWith(Prefix)
    def connect(url: String, info: java.util.Properties): Connection =
      if (!acceptsURL(url)) null
      else Option(dbs.get(url.stripPrefix(Prefix))).map(connection)
        .getOrElse(throw new SQLException(s"no stand-in database at $url"))
    def getPropertyInfo(url: String, info: java.util.Properties): Array[DriverPropertyInfo] =
      Array.empty
    def getMajorVersion: Int = 1
    def getMinorVersion: Int = 0
    def jdbcCompliant: Boolean = false
    def getParentLogger: java.util.logging.Logger =
      java.util.logging.Logger.getLogger("graftbench")
  }

  java.sql.DriverManager.registerDriver(new Driver)

  /** Forces driver registration before the first connection. */
  def register(): Unit = ()
}
