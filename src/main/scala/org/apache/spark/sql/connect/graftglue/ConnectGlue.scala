package org.apache.spark.sql.connect.graftglue

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connect.service.{SessionKey, SparkConnectService}
import scala.util.control.NonFatal

/** Package-placement shim (the graftglue pattern): the Connect
  * service's session registry is `private[connect]`, and the
  * authorization layer needs exactly one read-only question answered —
  * "which authenticated user owns THIS SparkSession?". Holder sessions
  * are clones, so reference identity against the holder's session is
  * exact; a non-Connect session simply matches no holder.
  */
object ConnectGlue {

  def connectUserOf(spark: SparkSession): Option[String] =
    try {
      if (!SparkConnectService.started) None
      else {
        val mgr = SparkConnectService.sessionManager
        mgr.listActiveSessions
          .flatMap(i => mgr.getIsolatedSessionIfPresent(SessionKey(i.userId, i.sessionId)))
          .find(_.session eq spark)
          .map(_.userId)
      }
    } catch { case NonFatal(_) => None }
}
