package layerbench

import java.lang.reflect.{InvocationHandler, InvocationTargetException, Method, Proxy}
import java.sql.{Connection, Driver, DriverManager, DriverPropertyInfo}
import java.util.Properties
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder
import java.util.logging.Logger

import org.apache.spark.{SparkContext, TaskContext}

/** The Derby boundary. The program connects to `jdbc:derby://layerbench/
  * <db>`, which Derby's embedded driver declines (it is client syntax)
  * and this driver accepts: it opens the embedded database `<db>` and
  * counts each connection and each statement the program opens, keyed by
  * the Spark job group in force on the calling thread. Executor threads
  * carry the group as a task-local property; the driver thread as a
  * SparkContext local property. The URL still starts with `jdbc:derby`,
  * so Spark picks its Derby dialect as it would for a plain Derby URL. */
final class CountingDriver extends Driver {
  import CountingDriver._

  def acceptsURL(url: String): Boolean = url != null && url.startsWith(Prefix)

  def connect(url: String, info: Properties): Connection =
    if (!acceptsURL(url)) null
    else {
      val conn = embedded.connect("jdbc:derby:" + url.stripPrefix(Prefix), info)
      if (conn == null) null
      else {
        bump(connections)
        Proxy.newProxyInstance(getClass.getClassLoader,
          Array(classOf[Connection]), new Counting(conn)).asInstanceOf[Connection]
      }
    }

  def getPropertyInfo(url: String, info: Properties): Array[DriverPropertyInfo] =
    embedded.getPropertyInfo("jdbc:derby:" + url.stripPrefix(Prefix), info)
  def getMajorVersion: Int = embedded.getMajorVersion
  def getMinorVersion: Int = embedded.getMinorVersion
  def jdbcCompliant(): Boolean = false
  def getParentLogger: Logger = Logger.getLogger("layerbench")
}

object CountingDriver {
  val Prefix = "jdbc:derby://layerbench/"
  val JobGroup = "spark.jobGroup.id"

  def url(db: String): String = Prefix + db

  private lazy val embedded: Driver = DriverManager.getDriver("jdbc:derby:x")

  /** Counts by job group ("" when none is set). */
  val connections = new ConcurrentHashMap[String, LongAdder]()
  val statements = new ConcurrentHashMap[String, LongAdder]()

  @volatile var sc: SparkContext = _

  private val registered = new java.util.concurrent.atomic.AtomicBoolean

  def register(): Unit =
    if (registered.compareAndSet(false, true)) {
      embedded // load Derby's driver before this one is listed
      DriverManager.registerDriver(new CountingDriver)
    }

  def group(): String = {
    val tc = TaskContext.get()
    val g =
      if (tc != null) tc.getLocalProperty(JobGroup)
      else Option(sc).map(_.getLocalProperty(JobGroup))
        .orNull
    if (g == null) "" else g
  }

  private def bump(m: ConcurrentHashMap[String, LongAdder]): Unit =
    m.computeIfAbsent(group(), _ => new LongAdder).increment()

  def snapshot(m: ConcurrentHashMap[String, LongAdder]): Map[String, Long] = {
    import scala.jdk.CollectionConverters._
    m.asScala.map { case (k, v) => k -> v.sum }.toMap
  }

  private val statementMethods =
    Set("createStatement", "prepareStatement", "prepareCall")

  private final class Counting(conn: Connection) extends InvocationHandler {
    def invoke(proxy: Any, m: Method, args: Array[AnyRef]): AnyRef = {
      if (statementMethods(m.getName)) bump(statements)
      try m.invoke(conn, (if (args == null) Array.empty[AnyRef] else args): _*)
      catch { case e: InvocationTargetException => throw e.getCause }
    }
  }
}
