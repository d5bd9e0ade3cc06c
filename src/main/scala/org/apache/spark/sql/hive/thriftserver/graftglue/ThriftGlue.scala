package org.apache.spark.sql.hive.thriftserver.graftglue

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.hive.service.cli.{CLIService, HiveSQLException, OperationHandle}
import org.apache.hive.service.cli.operation.ExecuteStatementOperation
import org.apache.hive.service.cli.session.{HiveSession, SessionManager}
import org.apache.spark.sql.{SparkSession, SQLContext}
import org.apache.spark.sql.hive.thriftserver.{HiveThriftServer2, SparkSQLSessionManager}
import org.apache.spark.sql.hive.thriftserver.server.SparkSQLOperationManager

/** Package-placement shim (the graftglue pattern): Spark's
  * HiveServer2 assembly (`SparkSQLSessionManager`,
  * `SparkSQLOperationManager`) is `private[hive]`/
  * `private[thriftserver]`, and the graft gateway needs three things
  * from it that Spark does not expose —
  *
  *   1. "which authenticated Thrift user owns THIS SparkSession?"
  *      (identity binding for GraftAuthz: the per-connection session
  *      is keyed in the operation manager's `sessionToContexts`, and
  *      the HiveSession it maps back to carries the SASL-verified
  *      username — NEVER a client-settable conf, so a tenant cannot
  *      spoof another tenant by overriding `spark.graft.sql.user` in
  *      the JDBC URL's conf segment);
  *   2. an admission-control seam on ExecuteStatement (the
  *      Thrift-side twin of the gRPC interceptor's ExecutePlan gate:
  *      in-flight executions per principal, fail-fast when over the
  *      cap); and
  *   3. the post-start swap that installs 1+2 into a server built by
  *      the stock `HiveThriftServer2.startWithContext`.
  *
  * The swap replaces the session manager's operation manager with a
  * subclass BEFORE any client connects (sessions created after the
  * swap hold the subclass; the orphaned original never sees a
  * session). Field surgery mirrors what Spark's own init does with
  * ReflectionUtils.setSuperField.
  */
object ThriftGlue {

  /** Admission gate + per-operation principal tracking. `tryAcquire`/
    * `release`/`auditDeny` are injected by graft (avoiding a reverse
    * dependency from this shim onto graft internals).
    */
  final class GraftOperationManager(
      tryAcquire: String => Boolean,
      release: String => Unit,
      auditDeny: (String, String) => Unit) extends SparkSQLOperationManager {

    private val opUser =
      new java.util.concurrent.ConcurrentHashMap[OperationHandle, String]()

    override def newExecuteStatementOperation(parentSession: HiveSession,
        statement: String, confOverlay: java.util.Map[String, String],
        async: Boolean, queryTimeout: Long): ExecuteStatementOperation = {
      val user = parentSession.getUsername
      if (!tryAcquire(user)) {
        auditDeny(user, statement)
        throw new HiveSQLException(
          s"RESOURCE_EXHAUSTED: principal '$user' exceeded its " +
            "concurrent-execution limit on the Thrift endpoint")
      }
      val op =
        try super.newExecuteStatementOperation(
          parentSession, statement, confOverlay, async, queryTimeout)
        catch { case t: Throwable => release(user); throw t }
      opUser.put(op.getHandle, user)
      op
    }

    override def closeOperation(opHandle: OperationHandle): Unit =
      try super.closeOperation(opHandle)
      finally {
        val user = opUser.remove(opHandle)
        if (user != null) release(user)
      }
  }

  @volatile private var installed: Option[(SparkSQLSessionManager, GraftOperationManager)] = None

  private def setField(cls: Class[_], target: AnyRef, name: String, value: AnyRef): Unit = {
    val f = cls.getDeclaredField(name)
    f.setAccessible(true)
    f.set(target, value)
  }

  /** Start the Thrift server over `sqlContext` and install the graft
    * operation manager. Must be called before any client connects
    * (startWithContext has just bound the port; the swap races only a
    * client that connects within these microseconds — the caller owns
    * server bring-up, so none can).
    */
  def startWithGraft(sqlContext: SQLContext,
      tryAcquire: String => Boolean, release: String => Unit,
      auditDeny: (String, String) => Unit): AnyRef = {
    val server = HiveThriftServer2.startWithContext(sqlContext)
    val cli = server.getServices.asScala
      .collectFirst { case c: CLIService => c }
      .getOrElse(throw new IllegalStateException("thrift server has no CLIService"))
    val sm = cli.getSessionManager.asInstanceOf[SparkSQLSessionManager]
    val gom = new GraftOperationManager(tryAcquire, release, auditDeny)
    // SparkSQLOperationManager captures Hive OperationManager's private
    // handleToOperation with getSuperField(this, ...), which resolves
    // against getClass.getSuperclass — for a SUBCLASS instance that is
    // SparkSQLOperationManager itself, so the captured val is null.
    // Re-point it at the real Hive-side map.
    val hiveMap = {
      val f = classOf[org.apache.hive.service.cli.operation.OperationManager]
        .getDeclaredField("handleToOperation")
      f.setAccessible(true)
      f.get(gom)
    }
    setField(classOf[SparkSQLOperationManager], gom, "handleToOperation", hiveMap)
    gom.init(sm.getHiveConf)
    gom.start()
    // Both references: the Hive base-class field every new HiveSession
    // is handed, and the Spark subclass field openSession registers
    // per-connection SparkSessions into.
    setField(classOf[SessionManager], sm, "operationManager", gom)
    setField(classOf[SparkSQLSessionManager], sm, "sparkSqlOperationManager", gom)
    installed = Some((sm, gom))
    server
  }

  def stop(server: AnyRef): Unit = {
    installed = None
    server.asInstanceOf[HiveThriftServer2].stop()
  }

  /** The SASL-authenticated username of the Thrift connection whose
    * per-connection SparkSession IS `spark` (reference identity, like
    * ConnectGlue) — None for sessions the Thrift server doesn't own.
    */
  def thriftUserOf(spark: SparkSession): Option[String] =
    installed.flatMap { case (sm, gom) =>
      try {
        gom.sessionToContexts.asScala
          .collectFirst { case (handle, s) if s eq spark => handle }
          .flatMap(h => Option(sm.getSession(h)).map(_.getUsername))
      } catch { case NonFatal(_) => None }
    }
}
