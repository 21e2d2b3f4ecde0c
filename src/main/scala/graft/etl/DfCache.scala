package graft.etl

import org.apache.spark.sql.DataFrame

import scala.collection.concurrent.TrieMap

/** JVM-wide memo of persisted DataFrames keyed by dataset path + config.
  *
  * A persisted frame is bound to the SparkSession that built it: if that
  * session is stopped and a new one started in the same JVM, the stale
  * entry would be permanently broken. A hit whose session has stopped is
  * therefore dropped and rebuilt instead of returned.
  */
final class DfCache {
  private val m = TrieMap.empty[String, DataFrame]

  def getOrElseUpdate(key: String, make: => DataFrame): DataFrame =
    m.get(key).filter(df => !df.sparkSession.sparkContext.isStopped)
      .getOrElse {
        val df = make
        m.put(key, df)
        df
      }
}
