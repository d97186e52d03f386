package graft

import org.apache.spark.sql.DataFrame
import graft.cdc.Fixture

/** Independent oracles for the CDC fixture: sequential last-image folds
  * of each relation's events, computed from the fixture case classes —
  * never through the code under test — plus the collectors that put a
  * materialized state into the same shape. */
object CdcFolds {

  /** Sequential last-image fold of the students events. */
  lazy val studentsFinal: Map[Long, (String, String, String, Int)] = {
    val m = scala.collection.mutable.LinkedHashMap[Long, (String, String, String, Int)]()
    Fixture.rowEvents.foreach { e =>
      if (e.tag == "delete") m -= e.id
      else m(e.id) = (e.firstName, e.lastName, e.dateOfBirth, e.statusId)
    }
    m.toMap
  }

  /** Sequential last-image fold of the status events. */
  lazy val statusFinal: Map[Long, String] = {
    val m = scala.collection.mutable.LinkedHashMap[Long, String]()
    Fixture.statusEvents.foreach { e =>
      if (e.tag == "delete") m -= e.id
      else m(e.id) = e.value
    }
    m.toMap
  }

  def collectStudents(df: DataFrame): Map[Long, (String, String, String, Int)] =
    df.collect().map(r => r.getLong(r.fieldIndex("id")) ->
      ((r.getString(r.fieldIndex("firstName")), r.getString(r.fieldIndex("lastName")),
        r.getDate(r.fieldIndex("dateOfBirth")).toString, r.getInt(r.fieldIndex("status"))))).toMap

  def collectStatus(df: DataFrame): Map[Long, String] =
    df.collect().map(r => r.getLong(r.fieldIndex("id")) ->
      r.getString(r.fieldIndex("value"))).toMap
}
