package graft

import java.lang.reflect.{InvocationHandler, InvocationTargetException, Method, Proxy}
import java.sql.{Connection, Driver, DriverManager, DriverPropertyInfo, Statement}
import java.util.Properties
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}
import java.util.logging.Logger

import scala.jdk.CollectionConverters._

/** A JDBC driver that records the SQL the database receives. It accepts
  * `jdbc:derby://recording/<db>`, which Derby's embedded driver declines
  * (it is client syntax), opens the embedded database `<db>`, and records
  * the text of every statement prepared on the connection or executed
  * through one of its plain statements, from driver and executor threads
  * alike. It counts the connections it has opened that are not yet
  * closed, and the most of them open at once. The URL still starts with
  * `jdbc:derby`, so Spark picks its Derby dialect as it would for a plain
  * Derby URL. */
final class RecordingDriver extends Driver {
  import RecordingDriver._

  def acceptsURL(url: String): Boolean = url != null && url.startsWith(Prefix)

  def connect(url: String, info: Properties): Connection =
    if (!acceptsURL(url)) null
    else Option(embedded.connect(embeddedUrl(url), info)).map { c =>
      peak.accumulateAndGet(open.incrementAndGet(), math.max)
      proxy(classOf[Connection], c)
    }.orNull

  def getPropertyInfo(url: String, info: Properties): Array[DriverPropertyInfo] =
    embedded.getPropertyInfo(embeddedUrl(url), info)
  def getMajorVersion: Int = embedded.getMajorVersion
  def getMinorVersion: Int = embedded.getMinorVersion
  def jdbcCompliant(): Boolean = false
  def getParentLogger: Logger = Logger.getLogger("graft.RecordingDriver")
}

object RecordingDriver {
  val Prefix = "jdbc:derby://recording/"

  private lazy val embedded: Driver = DriverManager.getDriver("jdbc:derby:x")

  private def embeddedUrl(url: String) = "jdbc:derby:" + url.stripPrefix(Prefix)

  private lazy val registered: Unit = {
    embedded // load Derby's driver before this one is listed
    DriverManager.registerDriver(new RecordingDriver)
  }

  /** The recording URL for the embedded database `db`. */
  def url(db: String): String = { registered; Prefix + db }

  private val sent = new ConcurrentLinkedQueue[String]()

  private val open = new AtomicInteger

  private val peak = new AtomicInteger

  /** Connections opened through this driver and not yet closed. */
  def openConnections: Int = open.get

  /** Runs `body` and returns its result with the most connections that
    * were open at once while it ran. */
  def peakOpen[A](body: => A): (A, Int) = synchronized {
    peak.set(open.get)
    val a = body
    (a, peak.get)
  }

  /** Runs `body` and returns its result with the SQL texts sent while it
    * ran, in the order they were sent. */
  def recording[A](body: => A): (A, Seq[String]) = synchronized {
    sent.clear()
    val a = body
    (a, sent.asScala.toSeq)
  }

  private val sqlMethods = Set("prepareStatement", "prepareCall",
    "execute", "executeQuery", "executeUpdate", "executeLargeUpdate", "addBatch")

  /** Wraps a connection or a plain statement: records the SQL argument of
    * `sqlMethods`, counts a connection's first `close`, and wraps each
    * statement a connection creates. */
  private def proxy[T](iface: Class[T], target: T): T =
    Proxy.newProxyInstance(getClass.getClassLoader, Array(iface),
      new InvocationHandler {
        private val closed = new AtomicBoolean
        def invoke(p: Any, m: Method, args: Array[AnyRef]): AnyRef = {
          val a = if (args == null) Array.empty[AnyRef] else args
          a.headOption.collect { case q: String if sqlMethods(m.getName) => q }
            .foreach(sent.add)
          if (iface == classOf[Connection] && m.getName == "close" &&
              closed.compareAndSet(false, true)) open.decrementAndGet()
          val out = try m.invoke(target, a: _*)
            catch { case e: InvocationTargetException => throw e.getCause }
          out match {
            case s: Statement if m.getName == "createStatement" =>
              proxy(classOf[Statement], s)
            case o => o
          }
        }
      }).asInstanceOf[T]
}
