{{ config(materialized='table') }}
SELECT date, min_temperature_degreeF, max_temperature_degreeF,
       normal_min_temperature_degreeF, normal_max_temperature_degreeF
FROM {{ source('climate', 'temperature') }}
